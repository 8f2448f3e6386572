package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.graft.Bridge

/** The dev probes' one stage listener. [[span]] runs a block under a job
  * group of its own and attributes to it every job carrying that group
  * (Spark copies the group onto broadcast and subquery threads), with the
  * stages and tasks of those jobs. Spans do not nest; each ends with a
  * listener-bus drain, so its counters are complete when it returns and
  * nothing leaks into the next span.
  */
private[graft] final class StageLedger private (sc: SparkContext) extends SparkListener {
  import StageLedger.Span

  // written on the listener-bus thread, read on the caller's thread after a drain
  private var seq = 0
  private var group: Option[String] = None
  private var current: Span = _
  private val stageIds = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (g.isDefined && g == group) {
      current.jobs += 1
      stageIds ++= e.stageIds
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageIds.contains(e.stageId)) current.tasks += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stageIds.contains(e.stageInfo.stageId)) current.stages += e.stageInfo
  }

  /** Run `body` as one span named `name`; returns its result and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = new Span
    synchronized {
      seq += 1
      group = Some(s"graft.ledger:$seq:$name")
      current = s
      stageIds.clear()
    }
    sc.setJobGroup(group.get, name, interruptOnCancel = false)
    try (body, s)
    finally {
      sc.clearJobGroup()
      Bridge.drainListenerBus(sc)
      synchronized { group = None; stageIds.clear() }
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

private[graft] object StageLedger {

  def attach(sc: SparkContext): StageLedger = {
    val l = new StageLedger(sc)
    sc.addSparkListener(l)
    l
  }

  /** One span's jobs, ended tasks and completed stages (in completion order). */
  final class Span {
    var jobs = 0
    var tasks = 0
    val stages = mutable.ArrayBuffer.empty[StageInfo]

    private def sum(f: StageInfo => Long): Long = stages.iterator.map(f).sum
    def taskRunMs: Long = sum(_.taskMetrics.executorRunTime)
    def gcMs: Long = sum(_.taskMetrics.jvmGCTime)
    def shuffleReadBytes: Long = sum(_.taskMetrics.shuffleReadMetrics.totalBytesRead)
    def shuffleWriteBytes: Long = sum(_.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }
}
