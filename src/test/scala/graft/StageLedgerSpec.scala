package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

class StageLedgerSpec extends SparkTestBase {

  test("stage ledger: each span holds exactly its own jobs and tasks once it returns") {
    val sc = spark.sparkContext
    // a slow listener ahead of the ledger on the shared bus queue: the
    // span's task-end events reach the ledger long after the action
    // returns, so only the span's drain makes its counts complete
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    sc.addSparkListener(slow)
    val ledger = StageLedger.attach(sc)
    try {
      // a noop write over 4 partitions: one job, one 4-task stage, no shuffle
      val (_, first) = ledger.span("range")(
        spark.range(0, 1000, 1, 4).write.format("noop").mode("overwrite").save())
      val (_, second) = ledger.span("idle")(())
      assert(first.jobs >= 1)
      assert(first.tasks == first.stages.map(_.numTasks).sum)
      assert(first.tasks == 4)
      assert(second.jobs == 0 && second.tasks == 0)
    } finally {
      ledger.detach()
      sc.removeSparkListener(slow)
    }
  }
}
