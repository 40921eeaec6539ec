package graft.sql

import org.apache.spark.sql.SparkSession

/** Names the eager Spark jobs an operator starts while its DataFrame is
  * being built (`localCheckpoint`, `cache` + `count`, driver `collect`,
  * schema inference), so the event log and profilers can attribute
  * them. */
object Jobs {

  private val Key = "spark.job.description"

  /** Runs `body` with the job description `graft:<operator>`, then
    * restores the previous description. No other local property is
    * touched. */
  def described[T](spark: SparkSession, operator: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s"graft:$operator")
    try body
    finally sc.setLocalProperty(Key, prev)
  }
}
