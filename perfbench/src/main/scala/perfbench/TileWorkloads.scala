package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.core.{Bounds, BoundingPyramid}
import graft.engine.{Checkpoint, Corpus, Filters, Pipeline, Stores, TileTable}
import graft.sql.TileFunctions

/** A phash-bucketed, phash-sorted parquet corpus of `n` images drawn
  * from the seed's id range through `Corpus.row` at its default image
  * size — the engine's input layout (the same table shape the flagship
  * reads). */
abstract class CorpusWorkload(spark: SparkSession, ctx: Ctx) extends Workload {
  def images: Long
  def zooms: Seq[Int]
  val table = "perfbench_corpus"
  var corpus: DataFrame = _

  def setup(): Unit = {
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Fs.deleteRec(new File(s"${ctx.tmp}/warehouse/$table"))
    spark.range(ctx.idBase, ctx.idBase + images, 1, ctx.cores)
      .map(i => Corpus.row(i))
      .write
      .bucketBy(2 * ctx.cores, "phash")
      .sortBy("phash")
      .option("compression", "uncompressed")
      .format("parquet")
      .saveAsTable(table)
    corpus = spark.table(table)
  }

  def close(): Unit = spark.sql(s"DROP TABLE IF EXISTS $table")

  /** Whether `winners` is the two-aggregate rollup rather than the
    * direct per-zoom aggregation. */
  def rollup(winners: DataFrame): Boolean =
    winners.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size >= 2

  def winnerLayers(t: Tracer, winners: DataFrame): Seq[Layers.Metric] = {
    val ((rows, _), s) = Layers.best(t, "pipeline.winners")(Layers.drain(winners))
    Seq(
      ("pipeline.winners_s", s, "s"),
      ("pipeline.winners_rows", rows.toDouble, "count"),
      ("pipeline.points_per_winner", images.toDouble * zooms.size / rows, "ratio"),
      ("pipeline.rollup_plans", if (rollup(winners)) 1.0 else 0.0, "count"),
      ("pipeline.direct_plans", if (rollup(winners)) 0.0 else 1.0, "count"))
  }
}

/** `tiles`: the flagship shape at a density where `tileWinners` takes
  * the rollup path (images >= 4^zMax / 4). */
final class Tiles(spark: SparkSession, ctx: Ctx) extends CorpusWorkload(spark, ctx) {
  val zooms: Seq[Int] = if (ctx.tiny) 4 to 6 else 4 to 7
  val images: Long = if (ctx.tiny) 1500L else 6000L
  require(images >= (1L << (2 * zooms.max)) / 4, "tiles must be dense")
  // pass times keep falling until about the fifth pass
  val warmups = 5

  /** A seed-placed window over 60% x 60% of the world at every zoom. */
  val region: BoundingPyramid = {
    val r = new scala.util.Random(ctx.seed)
    val fx = r.nextDouble() * 0.4
    val fy = r.nextDouble() * 0.4
    BoundingPyramid(zooms.map { z =>
      val n = 1L << z
      z -> (Bounds((fx * n).toLong, math.ceil((fx + 0.6) * n).toLong),
        Bounds((fy * n).toLong, math.ceil((fy + 0.6) * n).toLong))
    }: _*)
  }
  var expected: (Long, Long) = _

  private def flagship(winners: DataFrame): DataFrame =
    Pipeline.attachBytes(corpus, TileFunctions.regionSemiJoin(winners, region),
      shuffleHashWinners = true)

  def winners: DataFrame = Pipeline.tileWinners(corpus, zooms, expectedRows = Some(images))

  override def prepare(): (Long, Long) = {
    expected = Layers.drain(flagship(Pipeline.tileWinnersDirect(corpus, zooms)))
    (0L, 0L)
  }

  def pass(t: Tracer, k: Int): PassResult = {
    val (got, s) = t.span("flagship") {
      val (df, _) = t.span("construct")(flagship(winners))
      t.span("action")(Layers.drain(df))._1
    }
    PassResult(images.toDouble * zooms.size, s, 1, if (got == expected) 0 else 1)
  }

  def layers(t: Tracer, passes: Seq[Int]): Seq[Layers.Metric] = {
    val w = winners
    val base = winnerLayers(t, w)
    val wS = base.head._2
    val (_, rS) = Layers.best(t, "sql.region_join")(Layers.drain(TileFunctions.regionSemiJoin(w, region)))
    val rBytes = t.named("sql.region_join").last.exec.shuffleWrite
    val (_, aS) = Layers.best(t, "pipeline.attach")(Layers.drain(flagship(w)))
    val aBytes = t.named("pipeline.attach").last.exec.shuffleWrite
    base ++ Seq(
      ("sql.region_join_s", rS - wS, "s"),
      ("pipeline.attach_s", aS - rS, "s"),
      ("pipeline.attach_shuffle_bytes", (aBytes - rBytes).toDouble, "bytes"))
  }
}

/** `copy`: `Pipeline.copyJob` through the kill-and-resume protocol
  * (BENCH/COPYJOB.md) at a density where `tileWinners` takes the direct
  * path (images < 4^zMax / 4). Each pass uses a fresh sink. */
final class Copy(spark: SparkSession, ctx: Ctx) extends CorpusWorkload(spark, ctx) {
  val zooms: Seq[Int] = if (ctx.tiny) 4 to 8 else 4 to 9
  val images: Long = if (ctx.tiny) 150L else 600L
  // measured cold: a copy job is a batch application of its own, so
  // its first pass in a fresh JVM is what a user waits for
  val warmups = 0
  require(images < (1L << (2 * zooms.max)) / 4, "copy must be sparse")
  val full: BoundingPyramid = BoundingPyramid.full(zooms.min, zooms.max)
  /** Pass 1, the "killed" run: every zoom but the two finest. */
  val partial: BoundingPyramid = BoundingPyramid.full(zooms.min, zooms.max - 2)
  var occupied: Map[Int, Long] = Map.empty

  override def prepare(): (Long, Long) = {
    occupied = Pipeline.tileWinnersDirect(corpus, zooms).groupBy("z").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0L, 0L)
  }

  private def dirBytes(d: File): (Long, Long) =
    Fs.files(d).filter(_.getName.endsWith(".parquet"))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + f.length, n + 1) }

  def pass(t: Tracer, k: Int): PassResult = {
    val sink = s"${ctx.tmp}/sink-$k"
    val mpath = s"${ctx.tmp}/metrics-$k"
    var total = 0L
    val written = Seq(partial, full, full).zipWithIndex.map { case (bp, i) =>
      val (after, s) = t.span("action") {
        Pipeline.copyJob(spark, corpus, bp, sink, mpath, s"pass$k-${i + 1}")
      }
      val w = after - total
      total = after
      (w, s)
    }
    // correctness, untimed: per-zoom counts, idempotent re-run, no
    // error rows, one metrics row per sink partition of each writing pass
    val tiles = TileTable.read(spark, sink)
    val perZoom = tiles.groupBy("z").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val errors = tiles.where(col("error").isNotNull).count()
    val metrics = Checkpoint.readMetrics(spark, mpath)
      .groupBy("job_id")
      .agg(count(lit(1)), countDistinct("partition_id"), sum("rows"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val metricsOk = written.zipWithIndex.take(2).forall { case ((w, _), i) =>
      metrics.get(s"pass$k-${i + 1}").exists { case (n, d, rows) => n == d && rows == w }
    }
    val checks = Seq(perZoom == occupied, written(2)._1 == 0L, errors == 0L, metricsOk)
    Fs.deleteRec(new File(sink))
    Fs.deleteRec(new File(mpath))
    val w12 = written(0)._1 + written(1)._1
    PassResult(w12.toDouble, written.map(_._2).sum, checks.size, checks.count(!_))
  }

  def layers(t: Tracer, passes: Seq[Int]): Seq[Layers.Metric] = {
    val sink = s"${ctx.tmp}/layer-sink"
    val mpath = s"${ctx.tmp}/layer-metrics"
    // the copyJob pipeline against an empty sink, rebuilt stage by stage
    val region = broadcast(TileFunctions.enumeratePyramid(spark, full))
    val winners = Pipeline.tileWinners(corpus, zooms, region = Some(full))
    val joined = Pipeline.attachBytes(corpus,
      winners.join(Checkpoint.resume(region, sink), Seq("z", "x", "y"), "left_semi"))
    val converted = Filters.formatConverter("image/png")(joined)
    val base = winnerLayers(t, winners)
    val (_, jS) = Layers.best(t, "pipeline.attach")(Layers.drain(joined))
    val (_, cS) = Layers.best(t, "filters.convert")(Layers.drain(converted))
    val convRows = joined.where(col("content_type") =!= "image/png").count()
    val (_, plainS) = Layers.best(t, "stores.write_null")(Stores.writeNull(converted))
    // instrumented drain and sink write, twice each like `best`, each
    // time under a fresh job id / into a fresh sink
    val (instS, flushS) = Seq(1, 2).map { i =>
      val inst = Checkpoint.instrument(converted, s"layers-$i", "sink", mpath)
      val (_, a) = t.span("checkpoint.instrument")(Stores.writeNull(inst))
      val (_, b) = t.span("checkpoint.flush")(Checkpoint.flush(s"layers-$i", "sink"))
      (a, b)
    }.minBy(_._1)
    val metricRows = Checkpoint.readMetrics(spark, mpath).where(col("job_id") === "layers-2").count()
    val writeS = Seq(s"$sink-warm", sink).map { dir =>
      t.span("tiletable.write")(TileTable.write(converted, dir))._2
    }.min
    Fs.deleteRec(new File(s"$sink-warm"))
    val (bytes, files) = dirBytes(new File(sink))
    val sinkTiles = TileTable.read(spark, sink).count()
    val ((left, _), resumeS) = Layers.best(t, "checkpoint.resume") {
      Layers.drain(Checkpoint.resume(TileFunctions.enumeratePyramid(spark, full), sink))
    }
    Fs.deleteRec(new File(sink))
    Fs.deleteRec(new File(mpath))
    base ++ Seq(
      ("filters.convert_s", cS - jS, "s"),
      ("filters.converted_rows", convRows.toDouble, "count"),
      ("checkpoint.instrument_s", instS - plainS, "s"),
      ("checkpoint.flush_s", flushS, "s"),
      ("checkpoint.metric_rows", metricRows.toDouble, "count"),
      ("tiletable.write_s", writeS - plainS, "s"),
      ("tiletable.bytes_written", bytes.toDouble, "bytes"),
      ("tiletable.files", files.toDouble, "count"),
      ("tiletable.bytes_per_tile", bytes.toDouble / sinkTiles, "bytes"),
      ("checkpoint.resume_s", resumeS, "s"),
      ("checkpoint.resume_skip_frac", 1.0 - left.toDouble / full.size, "ratio"))
  }
}
