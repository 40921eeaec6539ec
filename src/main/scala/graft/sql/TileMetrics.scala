package graft.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** The counters of one [[TileMetrics]] node. They are created on the
  * driver when the node is built, so a listener knows their accumulator
  * ids before any plan over the node runs, however often it is
  * re-planned. Per task they hold that partition's rows, error rows
  * (non-null `error`), drain nanos and a `drained` mark of 1 once the
  * partition's input was read to its end. */
final class TileMetricsProbe(sc: SparkContext) extends Serializable {
  val rows: SQLMetric = SQLMetrics.createMetric(sc, "tile rows")
  val errors: SQLMetric = SQLMetrics.createMetric(sc, "error rows")
  val nanos: SQLMetric = SQLMetrics.createNanoTimingMetric(sc, "drain time")
  val drained: SQLMetric = SQLMetrics.createMetric(sc, "drained partitions")
  /** Partition count of the RDD the node last built (driver side; -1
    * until a plan over the node executes). */
  @volatile @transient var partitions: Int = -1
  override def toString: String = s"probe#${rows.id}"
}

/** Pass-through logical node that counts rows, error rows and drain
  * time per partition (the reference's `Statistics` filter,
  * filter/benchmark.py:13-97, on `InternalRow`). `error` is the column
  * whose non-null values count as errors; `None` counts rows only.
  *
  * No optimizer rule pushes a filter through an unknown unary node, so
  * filters inferred from a join stay above it and it counts its whole
  * child; column pruning still reaches below it (its output is its
  * child's). */
case class TileMetrics(error: Option[Attribute], probe: TileMetricsProbe, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TileMetrics = copy(child = c)
}

object TileMetrics {

  /** `df` under a new metrics node, and the node's counters. */
  def over(df: DataFrame, countErrors: Boolean): (DataFrame, TileMetricsProbe) = {
    val spark = df.sparkSession
    GraftStrategy.install(spark)
    val plan = GraftPlanBridge.plan(df)
    val error = if (countErrors) plan.output.find(_.name == "error") else None
    val probe = new TileMetricsProbe(spark.sparkContext)
    (GraftPlanBridge.ofRows(spark, TileMetrics(error, probe, plan)), probe)
  }
}

/** Physical form of [[TileMetrics]]: wraps each partition's iterator,
  * keeps its child's partitioning and ordering, and publishes the
  * counters into the probe's metrics when the iterator is exhausted. A
  * partition abandoned early (`limit`, `take`) publishes nothing. */
case class TileMetricsExec(error: Option[Attribute], probe: TileMetricsProbe, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "rows" -> probe.rows, "errors" -> probe.errors,
    "nanos" -> probe.nanos, "drained" -> probe.drained)

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    probe.partitions = input.getNumPartitions
    val errIdx = error.fold(-1)(e => child.output.indexWhere(_.exprId == e.exprId))
    val (rowsM, errorsM, nanosM, drainedM) = (probe.rows, probe.errors, probe.nanos, probe.drained)
    input.mapPartitions({ it =>
      val t0 = System.nanoTime()
      new Iterator[InternalRow] {
        private var rows = 0L
        private var errors = 0L
        private var open = true
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && open) {
            open = false
            rowsM.add(rows)
            errorsM.add(errors)
            nanosM.add(System.nanoTime() - t0)
            drainedM.add(1L)
          }
          h
        }
        def next(): InternalRow = {
          val r = it.next()
          rows += 1
          if (errIdx >= 0 && !r.isNullAt(errIdx)) errors += 1
          r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): TileMetricsExec = copy(child = c)
}

/** Plans [[TileMetrics]] and [[RowOp]] (the custom-`Strategy` pattern).
  * Installed on a session by `TileMetrics.over` and `RowOp.perPartition`. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TileMetrics(error, probe, child) => TileMetricsExec(error, probe, planLater(child)) :: Nil
    case RowOp(reads, pass, fields, prefix, open, child) =>
      RowOpExec(reads, pass, fields, prefix, open, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to the session unless its planner has it already. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.planner.strategies.contains(this))
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
  }
}
