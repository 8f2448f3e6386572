package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this one call reaches it so the
  * benchmark's ledger can drain events deterministically instead of sleeping.
  */
object ListenerDrain {

  /** Blocks until every event posted so far has been delivered to every
    * listener. The scheduler posts a job's stage and job-end events before
    * the action that ran it returns, so after an action plus this call the
    * ledger holds all of that action's events.
    */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
