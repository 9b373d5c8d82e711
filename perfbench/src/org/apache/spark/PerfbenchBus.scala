package org.apache.spark

/** The listener bus is private to Spark; the harness needs to wait until
  * every job, stage, query-execution and streaming-progress event of a flow
  * has been delivered before it closes the flow's record. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
