package graft.sql

import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, AttributeSet, GenericInternalRow, GenericRow, JoinedRow,
  NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.execution.{
  OrderPreservingUnaryExecNode, PartitioningPreservingUnaryExecNode, SparkPlan}
import org.apache.spark.sql.types.StructField

/** Error-as-data row operator: every input row's `pass` columns are
  * passed through with the values a per-row body computes appended to
  * them (the reference's posture: a failure is put on `tile.error`,
  * never raised). Only the `reads` columns are converted to external
  * values, as one [[Row]] handed to the body; the input row itself
  * stays an `InternalRow`.
  * The body returns zero or more tuples of the appended `fields`. When
  * it throws a non-fatal throwable the row gets one tuple of nulls with
  * `error` = `prefix(reads) + throwable`, or is dropped when `fields`
  * has no `error` column.
  *
  * `open` runs once per partition and returns the body; a body that is
  * [[AutoCloseable]] is closed when the partition is drained and when
  * its task completes (a `limit` stops pulling mid-partition).
  *
  * Like the `mapPartitions` it replaces, the node is opaque to the
  * optimizer: no filter is pushed below it, so a store's side effects
  * happen for every input row. Column pruning still reaches below it. */
case class RowOp(
    reads: Seq[Attribute],
    pass: Seq[Attribute],
    fields: Seq[AttributeReference],
    prefix: Row => String,
    open: () => Row => IterableOnce[Seq[Any]],
    child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = pass ++ fields
  override def producedAttributes: AttributeSet = AttributeSet(fields)
  override protected def stringArgs: Iterator[Any] = Iterator(reads, pass, fields)
  override protected def withNewChildInternal(c: LogicalPlan): RowOp = copy(child = c)
}

object RowOp {

  /** `df`'s `keep` columns (all when None) followed by `fields`, from
    * `body` over each row's `reads` (see [[RowOp]]). */
  def apply(
      df: DataFrame,
      reads: Seq[String],
      fields: Seq[StructField],
      keep: Option[Seq[String]] = None,
      prefix: Row => String = _ => "")(
      body: Row => IterableOnce[Seq[Any]]): DataFrame =
    perPartition(df, reads, fields, keep, prefix)(() => body)

  /** [[apply]] with a body made once per partition by `open`. */
  def perPartition(
      df: DataFrame,
      reads: Seq[String],
      fields: Seq[StructField],
      keep: Option[Seq[String]] = None,
      prefix: Row => String = _ => "")(
      open: () => Row => IterableOnce[Seq[Any]]): DataFrame = {
    val spark = df.sparkSession
    GraftStrategy.install(spark)
    val plan = GraftPlanBridge.plan(df)
    def attr(name: String): Attribute = plan.output(df.schema.fieldIndex(name))
    val pass = keep.fold(plan.output)(_.map(attr))
    val appended = fields.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val node = RowOp(reads.map(attr), pass, appended, prefix, open, plan)
    // aliased, so a self-join of the result can give one side new ids
    GraftPlanBridge.ofRows(spark, Project(pass ++ appended.map(a => Alias(a, a.name)()), node))
  }
}

/** Physical form of [[RowOp]]. */
case class RowOpExec(
    reads: Seq[Attribute],
    pass: Seq[Attribute],
    fields: Seq[AttributeReference],
    prefix: Row => String,
    open: () => Row => IterableOnce[Seq[Any]],
    child: SparkPlan)
    extends PartitioningPreservingUnaryExecNode with OrderPreservingUnaryExecNode {
  override def output: Seq[Attribute] = pass ++ fields
  override protected def outputExpressions: Seq[NamedExpression] = output
  override protected def orderingExpressions: Seq[SortOrder] = child.outputOrdering
  override def producedAttributes: AttributeSet = AttributeSet(fields)
  override protected def stringArgs: Iterator[Any] = Iterator(reads, pass, fields)

  override protected def doExecute(): RDD[InternalRow] = {
    val at = reads.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    val readTypes = reads.map(_.dataType).toArray
    val fieldTypes = fields.map(_.dataType).toArray
    val errIdx = fields.indexWhere(_.name == "error")
    val (prefix, open, output, input) = (this.prefix, this.open, this.output, child.output ++ fields)
    child.execute().mapPartitions({ it =>
      val toScala = readTypes.map(CatalystTypeConverters.createToScalaConverter)
      val toCatalyst = fieldTypes.map(CatalystTypeConverters.createToCatalystConverter)
      val project = UnsafeProjection.create(output, input)
      val joined = new JoinedRow
      val body = open()
      var live = true
      def close(): Unit = if (live) {
        live = false
        body match { case c: AutoCloseable => c.close(); case _ => () }
      }
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
      val rows = it.flatMap { row =>
        val in = new GenericRow(Array.tabulate[Any](at.length) { i =>
          if (row.isNullAt(at(i))) null else toScala(i)(row.get(at(i), readTypes(i)))
        })
        val tuples =
          try body(in).iterator
          catch {
            case NonFatal(e) =>
              if (errIdx < 0) Iterator.empty
              else Iterator.single(Seq.tabulate(toCatalyst.length)(i =>
                if (i == errIdx) prefix(in) + e else null))
          }
        tuples.map { vs =>
          val values = new Array[Any](toCatalyst.length)
          var i = 0
          vs.foreach { v => values(i) = toCatalyst(i)(v); i += 1 }
          project(joined(row, new GenericInternalRow(values)))
        }
      }
      new Iterator[InternalRow] {
        def hasNext: Boolean = {
          val h = rows.hasNext
          if (!h) close()
          h
        }
        def next(): InternalRow = rows.next()
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): RowOpExec = copy(child = c)
}
