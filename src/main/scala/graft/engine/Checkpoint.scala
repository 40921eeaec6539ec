package graft.engine

import scala.jdk.CollectionConverters._

import java.util.concurrent.TimeoutException

import org.apache.spark.{GraftBus, SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sql.{Jobs, TileMetrics, TileMetricsProbe}

/** Partition-granular checkpoint + lineage/metrics tables — the Spark
  * re-expression of the reference's queue checkpointing (Redis
  * pending/claim/dead-letter, store/redis.py:212-328) and anti-join
  * resume (scripts/tc_copy.py:70-71).
  *
  * Model: a batch job writes its sink idempotently; alongside it, a
  * `metrics` table records one row per task partition
  * (job_id, stage, partition_id, rows, errors, nanos, status). Cross-run
  * resume is the `left_anti` join against the sink's coords, so only
  * missing work is redone. Spark task retry covers intra-job failure
  * (the reference's pending-claim steal); the anti-join covers cross-run
  * failure (the reference's resumable queue).
  *
  * Counting: a pass-through [[graft.sql.TileMetrics]] node counts rows
  * on `InternalRow` (no `Row` encoder round trip) into SQL metrics, and
  * a listener on graft's own event queue of the session's SparkContext
  * reads each partition's values from the task-end event of a
  * successful attempt, keeping the first per partition id: retries and
  * speculative duplicates cannot double-count. The same node, counting
  * only, sits on the sink scan of `Pipeline.copyJob`'s resume join, so
  * the sink's size after a write is rows scanned + rows written,
  * without reading the sink again — when both nodes heard from every
  * one of their partitions; otherwise the sink is counted explicitly.
  */
object Checkpoint {

  val metricsSchema: StructType = StructType(Seq(
    StructField("job_id", StringType),
    StructField("stage", StringType),
    StructField("partition_id", IntegerType),
    StructField("rows", LongType),
    StructField("errors", LongType),
    StructField("nanos", LongType),
    StructField("status", StringType)))

  /** Instrument a tile DataFrame: counts rows/errors per task partition;
    * `flush` writes one metrics row per partition after the action. Data
    * flows through unchanged (reference filter/benchmark.py:13-79
    * Statistics, made partition-granular). Instrumenting the same
    * (jobId, stage) again replaces the earlier registration.
    *
    * CONTRACT: a partition's metric row is emitted when its iterator is
    * drained. An operator that abandons the iterator early (`limit`,
    * take) therefore reports no metric for the truncated partitions —
    * instrument the full relation ahead of any limit, or treat missing
    * partitions as "not fully processed" (which they are). */
  def instrument(
      df: DataFrame,
      jobId: String,
      stage: String,
      metricsPath: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    unregister(sc, jobId, stage)
    val (out, probe) = TileMetrics.over(df, countErrors = true)
    GraftBus.listen(sc, new Registered(probe, jobId, stage, metricsPath, df.sparkSession))
    out
  }

  /** Append the per-partition metrics of an instrumented (jobId, stage)
    * to its metrics table (call after the action) and stop collecting
    * them. Returns the number of metric rows appended. */
  def flush(jobId: String, stage: String): Long = flushAll(jobId, stage).map(_._1).sum

  /** [[flush]], returning the rows the stage's node passed when every
    * one of its partitions reported ([[PartitionMetrics.total]]). */
  private[engine] def flushTotal(jobId: String, stage: String): Option[Long] =
    flushAll(jobId, stage).headOption.flatMap(_._2)

  // (metric rows appended, node total) per flushed registration
  private def flushAll(jobId: String, stage: String): Seq[(Long, Option[Long])] = {
    val sc = SparkSession.active.sparkContext
    // a lagging bus makes the drain time out: the partitions whose
    // events are still queued then report no row, as the contract allows
    try GraftBus.drain(sc) catch { case _: TimeoutException => }
    unregister(sc, jobId, stage).map { r =>
      val ms = r.drained
      if (ms.nonEmpty) Jobs.described(r.spark, "Checkpoint.flush") {
        val rows = ms.map { m =>
          Row(jobId, stage, m.partitionId, m.rows, m.errors, m.nanos, "done")
        }
        r.spark
          .createDataFrame(r.spark.sparkContext.parallelize(rows, 1), metricsSchema)
          .write.mode("append").parquet(r.metricsPath)
      }
      (ms.size.toLong, r.total)
    }
  }

  /** Stop collecting the metrics of an instrumented (jobId, stage). */
  private[engine] def unregister(sc: SparkContext, jobId: String, stage: String): Seq[Registered] = {
    val rs = GraftBus.listeners[Registered](sc).filter(r => r.jobId == jobId && r.stage == stage)
    rs.foreach(sc.removeSparkListener)
    rs
  }

  def readMetrics(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(metricsSchema).parquet(path)

  /** Per-stage statistics rollup over a metrics table — the reference's
    * `Benchmark`/`Statistics` report (filter/benchmark.py:13-79,
    * scripts/tc_copy.py:109-121) as one aggregation: partition count,
    * row/error sums, mean/stddev/min/max task seconds, and two
    * throughput readings — `tiles_per_cpu_sec` (rows / summed task
    * seconds, the per-core rate) and `tiles_per_sec_wall` (rows / max
    * task seconds, the ideal-parallel wall-clock estimate). */
  def report(metrics: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    metrics
      .groupBy("job_id", "stage")
      .agg(
        count(lit(1)).as("partitions"),
        sum("rows").as("rows"),
        sum("errors").as("errors"),
        (sum("nanos") / 1e9).as("total_secs"),
        (avg("nanos") / 1e9).as("mean_secs"),
        (coalesce(stddev_samp(col("nanos")), lit(0.0)) / 1e9).as("stddev_secs"),
        (min("nanos") / 1e9).as("min_secs"),
        (max("nanos") / 1e9).as("max_secs"))
      .withColumn("tiles_per_cpu_sec", col("rows") / col("total_secs"))
      .withColumn("tiles_per_sec_wall", col("rows") / col("max_secs"))
  }

  /** Cross-run resume: drop coords already present in the sink
    * (reference tc_copy.py:70-71, examples/download.py:26). */
  def resume(todo: DataFrame, sinkPath: String): DataFrame =
    resumeCounting(todo, sinkPath, count = false)._1

  /** [[resume]]; with `count`, a counting-only metrics node sits on the
    * sink scan and its collector comes back too. The collector is not
    * listening yet: the caller adds it (`GraftBus.listen`) before the
    * action and removes it after. No collector when the sink is absent.
    * The node keeps the join's inferred filters above it, so the scan
    * reads every zoom of the sink. */
  private[engine] def resumeCounting(
      todo: DataFrame,
      sinkPath: String,
      count: Boolean): (DataFrame, Option[PartitionMetrics]) = {
    val spark = todo.sparkSession
    if (!TileTable.exists(spark, sinkPath)) (todo, None)
    else {
      val sink = TileTable.read(spark, sinkPath)
      val (scan, collector) =
        if (!count) (sink, None)
        else {
          val (out, probe) = TileMetrics.over(sink, countErrors = false)
          (out, Some(new PartitionMetrics(probe)))
        }
      (todo.join(scan.select("z", "x", "y"), Seq("z", "x", "y"), "left_anti"), collector)
    }
  }
}

final case class PartitionMetric(partitionId: Int, rows: Long, errors: Long, nanos: Long)

/** One [[PartitionMetric]] per partition of a [[graft.sql.TileMetrics]]
  * node, read from task-end events: only successful attempts count, a
  * task counts only if it drained the node's input, and the first
  * attempt reported per partition id is kept. */
class PartitionMetrics(val probe: TileMetricsProbe) extends SparkListener {
  // per task partition id: its metric and how many of the node's
  // partitions it drained (more than one under a coalesce)
  private val byPartition =
    new java.util.concurrent.ConcurrentHashMap[Int, (PartitionMetric, Long)]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason == Success && e.taskInfo != null) {
      def update(id: Long): Long = e.taskInfo.accumulables.collectFirst {
        case a if a.id == id && a.update.isDefined => a.update.get.asInstanceOf[Number].longValue
      }.getOrElse(0L)
      val drained = update(probe.drained.id)
      if (drained > 0) {
        val pid = e.taskInfo.partitionId
        byPartition.putIfAbsent(pid, (PartitionMetric(pid,
          update(probe.rows.id), update(probe.errors.id), update(probe.nanos.id)), drained))
      }
    }

  /** Drained partitions, by partition id. */
  def drained: Seq[PartitionMetric] =
    byPartition.values.asScala.toSeq.map(_._1).sortBy(_.partitionId)

  /** Rows over every partition, if the node ran and each of its
    * partitions reported drained; None when part of its input went
    * unread (or the node never ran). */
  def total: Option[Long] = {
    val seen = byPartition.values.asScala.toSeq
    if (probe.partitions >= 0 && seen.map(_._2).sum == probe.partitions)
      Some(seen.map(_._1.rows).sum)
    else None
  }
}

/** The collector of an instrumented (jobId, stage) until its `flush`. */
private final class Registered(
    probe: TileMetricsProbe,
    val jobId: String,
    val stage: String,
    val metricsPath: String,
    val spark: SparkSession) extends PartitionMetrics(probe)
