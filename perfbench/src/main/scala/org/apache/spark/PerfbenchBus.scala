package org.apache.spark

/** Bench-side bridge to the driver's listener bus: a timed call returns
  * before its job-end events reach listeners, so the collector drains the
  * bus before it reads its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
