package org.apache.spark

/** Blocks until every Spark event posted so far — job, stage and task
  * events and the SQL execution ends that feed QueryExecutionListeners —
  * has been delivered. Lives in Spark's package because the live
  * listener bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
