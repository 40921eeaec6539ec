package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge between a DataFrame and its logical plan, which Spark 4 keeps
  * private[sql]: the standard pattern for libraries that wrap a custom
  * logical node back as a DataFrame.
  */
object GraftPlanBridge {
  def plan(df: DataFrame): LogicalPlan = df.asInstanceOf[classic.Dataset[Row]].logicalPlan
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
