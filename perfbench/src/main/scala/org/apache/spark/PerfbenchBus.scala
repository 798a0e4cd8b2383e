package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced run's report sees the last jobs' and tasks' events. The
  * listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
