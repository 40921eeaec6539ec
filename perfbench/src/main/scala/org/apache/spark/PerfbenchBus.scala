package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * span's counts are complete when it closes (the bus is private to
  * Spark's own package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
