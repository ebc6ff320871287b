package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so the
  * benchmark's listeners have seen all jobs, tasks and query executions of
  * an action before their counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
