package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Spatial

/** `spatial`: `Spatial.polygonJoin` and `Spatial.hexPolygonJoin` over
  * one seeded scene on a 1000 x 1000 extent. Polygon radii are heavy
  * tailed (Pareto, plus three polygons covering 10-20% of the extent
  * each); a fifth of the points sit in one hot cluster; one extra point
  * is planted at every polygon centre. The points are partitioned by
  * space, so the cluster skews one task. */
final class SpatialScene(spark: SparkSession, ctx: Ctx) extends Workload {
  val nPoints: Long = if (ctx.tiny) 20000L else 400000L
  val nPolygons: Int = if (ctx.tiny) 200 else 2000
  val zoom = 7
  val hexSize = 5.0
  val Extent = 1000.0
  // pass times keep falling until about the fourth pass
  val warmups = 4

  /** (poly_id, centre, vertices) — star-shaped around the centre, so the
    * centre is always inside. Polygons 0-2 are the large ones, each near
    * the centre of its own quadrant with a fixed radius; the hot cluster
    * sits on polygon 0's centre and no small polygon comes near it. The
    * work of a pass is then nearly the same for every seed. */
  val polygons: Seq[(Long, (Double, Double), Seq[(Double, Double)])] = {
    val r = new scala.util.Random(ctx.seed)
    val big = Seq((250.0, 250.0), (750.0, 250.0), (250.0, 750.0)).zipWithIndex.map {
      case ((qx, qy), j) =>
        val radius = 200.0 + 15.0 * j
        val room = Extent / 4 - radius
        (radius, 0.85, (qx + room * (2 * r.nextDouble() - 1), qy + room * (2 * r.nextDouble() - 1)))
    }
    val (hx, hy) = big.head._3
    val small = Seq.fill(nPolygons - big.size) {
      val radius = math.min(60.0, 2.0 * math.pow(1.0 - r.nextDouble(), -1.0 / 1.5))
      def draw(): (Double, Double) = {
        val (cx, cy) = (radius + (Extent - 2 * radius) * r.nextDouble(),
          radius + (Extent - 2 * radius) * r.nextDouble())
        if (math.hypot(cx - hx, cy - hy) < radius + 80) draw() else (cx, cy)
      }
      (radius, 0.6, draw())
    }
    (big ++ small).zipWithIndex.map { case ((radius, jitter, (cx, cy)), j) =>
      // the large polygons refine most candidates: a fixed vertex count
      // keeps their ray-cast cost the same for every seed
      val m = if (j < big.size) 12 else 6 + r.nextInt(11)
      // jittered even spacing keeps every angular gap below pi
      val angles = (0 until m).map(i => 2 * math.Pi * (i + 0.8 * r.nextDouble()) / m)
      val vs = angles.map { a =>
        val rr = radius * (jitter + (1 - jitter) * r.nextDouble())
        (cx + rr * math.cos(a), cy + rr * math.sin(a))
      }
      (j.toLong, (cx, cy), vs)
    }
  }

  var points: DataFrame = _
  var polys: DataFrame = _

  def setup(): Unit = {
    def frac(salt: Int): org.apache.spark.sql.Column =
      (xxhash64(lit(ctx.seed), col("id"), lit(salt)).bitwiseAND(lit((1L << 40) - 1))
        .cast("double") / (1L << 40).toDouble)
    // the hot cluster sits on polygon 0's centre
    val (hx, hy) = polygons.head._2
    def clustered(c: Double, a: Int): org.apache.spark.sql.Column =
      lit(c) + (frac(a) + frac(a + 1) + frac(a + 2) - lit(1.5)) * lit(40.0)
    val random = spark.range(0, nPoints, 1, ctx.cores).select(
      col("id").as("point_id"),
      when(frac(0) < 0.2, clustered(hx, 10)).otherwise(frac(1) * Extent).as("px"),
      when(frac(0) < 0.2, clustered(hy, 20)).otherwise(frac(2) * Extent).as("py"))
    val planted = spark.createDataFrame(
      spark.sparkContext.parallelize(polygons.map { case (j, (cx, cy), _) =>
        Row(nPoints + j, cx, cy) }, 1),
      StructType(Seq(StructField("point_id", LongType), StructField("px", DoubleType),
        StructField("py", DoubleType))))
    // laid out like a space-partitioned table: one partition per block
    // of a g x g grid over the extent, so the hot cluster's block holds
    // the cluster on top of its share (on 2 x 2: 40% of the points
    // against 20%) and its task runs longest
    val g = math.max(2, math.round(math.sqrt(ctx.cores.toDouble)).toInt)
    val extent = Extent
    val all = random.unionByName(planted)
    val blocks = all.rdd.keyBy { r =>
      def cell(v: Double): Int = math.min(g - 1, math.max(0, (v / extent * g).toInt))
      cell(r.getDouble(1)) * g + cell(r.getDouble(2))
    }.partitionBy(new org.apache.spark.HashPartitioner(g * g)).values
    points = spark.createDataFrame(blocks, all.schema).cache()
    points.count()
    val vType = ArrayType(StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType))))
    polys = spark.createDataFrame(
      spark.sparkContext.parallelize(polygons.map { case (j, _, vs) =>
        Row(j, vs.map { case (x, y) => Row(x, y) }) }, 1),
      StructType(Seq(StructField("poly_id", LongType), StructField("vertices", vType)))).cache()
    polys.count()
  }

  def quad: DataFrame =
    Spatial.polygonJoin(points, polys, zoom, 0, 0, Extent, Extent).select("point_id", "poly_id")
  def hex: DataFrame =
    Spatial.hexPolygonJoin(points, polys, hexSize).select("point_id", "poly_id")

  /** Even-odd ray cast, written independently of the program's kernel. */
  private def inside(px: Double, py: Double, vs: Seq[(Double, Double)]): Boolean = {
    var in = false
    for (i <- vs.indices) {
      val (ax, ay) = vs(i)
      val (bx, by) = vs((i + 1) % vs.size)
      if (((ay > py) != (by > py)) && (px < (bx - ax) * (py - ay) / (by - ay) + ax)) in = !in
    }
    in
  }

  /** Planted-centre recall and a sampled subset against the naive cross
    * join, for both indexes. */
  override def prepare(): (Long, Long) = {
    val pick = col("point_id") >= nPoints || col("point_id") % 1000 === math.floorMod(ctx.seed, 1000L)
    val sample = points.where(pick).collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val naive = (for {
      (id, px, py) <- sample.toSeq
      (j, _, vs) <- polygons if inside(px, py, vs)
    } yield (id, j)).toSet
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.where(pick).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val checks = Seq(quad, hex).flatMap { df =>
      val got = pairs(df)
      Seq(polygons.forall { case (j, _, _) => got((nPoints + j, j)) }, got == naive)
    }
    (checks.size, checks.count(!_))
  }

  def pass(t: Tracer, k: Int): PassResult = {
    def run(name: String, df: => DataFrame): ((Long, Long), Double) =
      t.span(name) {
        val (d, _) = t.span("construct")(df)
        t.span("action")(Layers.drain(d))._1
      }
    val (q, qs) = run("spatial.quad", quad)
    val (h, hs) = run("spatial.hex", hex)
    PassResult(2.0 * (nPoints + nPolygons), qs + hs, 1, if (q == h) 0 else 1)
  }

  def layers(t: Tracer, passes: Seq[Int]): Seq[Layers.Metric] = {
    // The optimizer folds the ray-cast filter into the join condition, so
    // the join's output rows are already refined. Candidates are counted
    // on one extra drain with predicate pushdown through joins disabled,
    // which leaves the filter above the join.
    val rules = "spark.sql.optimizer.excludedRules"
    spark.conf.set(rules, "org.apache.spark.sql.catalyst.optimizer.PushPredicateThroughJoin," +
      "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates")
    val unpushed = Seq("quad" -> quad, "hex" -> hex).map { case (key, df) =>
      val ((pairs, _), _) = t.span(s"spatial.$key.candidates")(Layers.drain(df))
      key -> (t.named(s"spatial.$key.candidates").last.plan.joinRows.toDouble / pairs)
    }.toMap
    spark.conf.unset(rules)
    Seq("quad", "hex").flatMap { key =>
      val ss = t.named(s"spatial.$key").filter(s => passes.contains(s.pass))
      Seq(
        (s"spatial.${key}_join_s", Main.median(ss.map(_.seconds)), "s"),
        (s"spatial.${key}_cover_rows_per_polygon",
          Main.median(ss.map(_.plan.generateRows.toDouble / nPolygons)), "ratio"),
        (s"spatial.${key}_candidates_per_pair", unpushed(key), "ratio"))
    }
  }

  def close(): Unit = {
    points.unpersist()
    polys.unpersist()
  }
}
