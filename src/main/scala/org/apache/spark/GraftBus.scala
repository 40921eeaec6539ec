package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** The listener bus is private to Spark: block until every queued event
  * is delivered, find the registered listeners of one class, and add a
  * listener to graft's own event queue (other listeners cannot fill it
  * and make it drop graft's events). */
object GraftBus {
  val queue = "graft"
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def listen(sc: SparkContext, l: SparkListenerInterface): Unit =
    sc.listenerBus.addToQueue(l, queue)
  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
