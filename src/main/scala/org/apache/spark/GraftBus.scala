package org.apache.spark

/** Blocks until every queued listener event is delivered (the bus is private to Spark). */
object GraftBus { def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty() }
