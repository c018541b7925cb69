package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the counters read after an operation include all of its jobs and
  * tasks. The listener bus is private to Spark; this object lives in
  * Spark's package only to reach it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
