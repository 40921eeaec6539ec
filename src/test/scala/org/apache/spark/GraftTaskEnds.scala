package org.apache.spark

import org.apache.spark.executor.ExecutorMetrics
import org.apache.spark.scheduler.{AccumulableInfo, SparkListenerTaskEnd, TaskInfo, TaskLocality}

/** Synthetic task-end events for listener specs (a task's accumulator
  * updates are private to Spark). */
object GraftTaskEnds {
  val failure: TaskEndReason = new ExceptionFailure(new RuntimeException("task failed"), Nil)

  /** The end of one attempt of `partition`, carrying `updates` as
    * (accumulator id, task value) pairs. */
  def apply(
      partition: Int,
      attempt: Int,
      reason: TaskEndReason,
      updates: Seq[(Long, Long)],
      speculative: Boolean = false): SparkListenerTaskEnd = {
    val info = new TaskInfo(partition * 10L + attempt, partition, attempt, partition, 0L,
      "driver", "localhost", TaskLocality.PROCESS_LOCAL, speculative)
    info.setAccumulables(updates.map { case (id, v) =>
      AccumulableInfo(id, Some("metric"), Some(v), Some(v), internal = false,
        countFailedValues = false)
    })
    SparkListenerTaskEnd(0, 0, "ResultTask", reason, info, new ExecutorMetrics, null)
  }
}
