package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-layer ledger of the traced run: one `SparkListener` that attributes
  * every job to the span that launched it, by the job group the span sets on
  * its thread (Spark copies the group onto broadcast and subquery threads, so
  * their jobs land in the same span).
  *
  * A span is timed from outside the library: the benchmark materializes the
  * layer's input first, then calls the layer and forces its output inside
  * [[span]]. Spans do not nest. Calling the same span name again adds to it.
  */
final class Ledger(sc: SparkContext, val cores: Int) extends SparkListener {

  final class Row {
    var wallS = 0.0
    var jobs = 0L
    var tasks = 0L
    var execRunMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var rowsOut = 0L

    def idleCoreFrac: Double =
      if (wallS <= 0) 0.0 else 1.0 - execRunMs / 1000.0 / (wallS * cores)
  }

  private val GroupPrefix = "perfbench:"
  // written on the listener-bus thread, read on the main thread after a drain
  private val stageSpan = mutable.Map.empty[Int, String]
  private val rows = mutable.Map.empty[String, Row]

  def row(name: String): Row = synchronized(rows.getOrElseUpdate(name, new Row))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix)).foreach { name =>
      synchronized {
        row(name).jobs += 1
        e.stageIds.foreach(stageSpan.put(_, name))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { name =>
      val r = row(name)
      val m = si.taskMetrics
      r.tasks += si.numTasks
      r.execRunMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Run `body` as span `name`: its jobs carry the span's job group, its wall
    * time is added to the span, and the listener bus is drained before this
    * returns, so the span's stage metrics are complete.
    */
  def span[T](name: String)(body: => T): T = {
    sc.setJobGroup(GroupPrefix + name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      ListenerDrain(sc)
      synchronized(row(name).wallS += wall)
    }
  }
}

object Ledger {

  /** Old-generation occupancy after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0
  }
}
