package graft.engine

import java.awt.geom.Path2D

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.core.CellIndex

/** Point-in-polygon: the HOF ray-cast column vs the JDK's own even-odd
  * winding test (java.awt.geom.Path2D — an independent, widely-used
  * implementation), on goldens (incl. concave + per-row polygons) and
  * on 2,000 random polygon/point draws; plus the cell-prefilter join's
  * equivalence to the naive cross-join on a planted scene, on the quad
  * and hex indexes. */
class SpatialSpec extends SparkTestBase {

  private val vertexType = ArrayType(StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType))))

  private def awtContains(vs: Seq[(Double, Double)], px: Double, py: Double): Boolean = {
    val p = new Path2D.Double(Path2D.WIND_EVEN_ODD)
    p.moveTo(vs.head._1, vs.head._2)
    vs.tail.foreach { case (x, y) => p.lineTo(x, y) }
    p.closePath()
    p.contains(px, py)
  }

  private def sparkContains(cases: Seq[(Seq[(Double, Double)], Double, Double)]): Seq[Boolean] = {
    val rows = cases.zipWithIndex.map { case ((vs, px, py), i) =>
      Row(i, px, py, vs.map { case (x, y) => Row(x, y) })
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("px", DoubleType),
      StructField("py", DoubleType), StructField("vertices", vertexType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .withColumn("inside", Spatial.pointInPolygon(col("px"), col("py"), col("vertices")))
      .orderBy("id").select("inside").collect().map(_.getBoolean(0)).toSeq
  }

  private val concaveL = Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (6.0, 10.0), (6.0, 4.0), (0.0, 4.0))

  test("ray cast matches hand goldens including the concave notch") {
    val pentagon = Seq((1.0, 1.0), (4.0, 0.8), (5.0, 3.0), (3.0, 4.5), (0.8, 3.0))
    val cases = Seq(
      (pentagon, 2.5, 2.5, true), // centroid-ish
      (pentagon, 0.0, 0.0, false), // outside
      (pentagon, 4.9, 2.9, true), // near a vertex, inside
      (concaveL, 3.0, 2.0, true), // in the foot of the L
      (concaveL, 3.0, 7.0, false), // in the NOTCH — convex tests get this wrong
      (concaveL, 8.0, 7.0, true), // in the stem
      (concaveL, 11.0, 5.0, false))
    val got = sparkContains(cases.map(c => (c._1, c._2, c._3)))
    cases.zip(got).foreach { case ((vs, px, py, want), g) =>
      assert(g == want, s"($px,$py) in $vs")
      assert(awtContains(vs, px, py) == want, "golden agrees with the JDK oracle")
    }
  }

  test("ray cast agrees with java.awt Path2D on 2000 random draws") {
    val rnd = new scala.util.Random(42)
    // random star-shaped-ish polygons: random radii around a center,
    // sorted angles (may still be concave); random probe points
    val cases = (0 until 2000).map { _ =>
      val n = 3 + rnd.nextInt(8)
      val cx = rnd.nextDouble() * 100
      val cy = rnd.nextDouble() * 100
      val angles = Seq.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
      val vs = angles.map { a =>
        val r = 1.0 + rnd.nextDouble() * 20
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      (vs, rnd.nextDouble() * 100, rnd.nextDouble() * 100)
    }
    val got = sparkContains(cases)
    val disagreements = cases.zip(got).count { case ((vs, px, py), g) =>
      g != awtContains(vs, px, py)
    }
    assert(disagreements == 0, s"$disagreements/2000 disagree with Path2D")
  }

  /** The planted scene: 500 random points, three polygons (one a big
    * concave L), and the naive cross-join's (pid, polygon_id) pairs. */
  private def joinScene(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val points = (0 until 500).map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("pid", "px", "py")
    val polys = Seq(
      (1L, Seq((10.0, 10.0), (40.0, 8.0), (50.0, 30.0), (30.0, 45.0), (8.0, 30.0))),
      (2L, concaveL.map { case (x, y) => (x * 8, y * 8) }), // big concave L
      (3L, Seq((60.0, 60.0), (90.0, 60.0), (75.0, 90.0))))
    val polyRows = polys.map { case (id, vs) => Row(id, vs.map { case (x, y) => Row(x, y) }) }
    val polyDf = spark.createDataFrame(
      spark.sparkContext.parallelize(polyRows, 1),
      StructType(Seq(StructField("polygon_id", LongType), StructField("vertices", vertexType))))
    val naive = pairs(points.crossJoin(polyDf)
      .where(Spatial.pointInPolygon(col("px"), col("py"), col("vertices"))))
    assert(naive.nonEmpty && naive.size < 500 * 3, "scene is non-trivial")
    (points, polyDf, naive)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val s = spark
    import s.implicits._
    df.select("pid", "polygon_id").as[(Long, Long)].collect().toSet
  }

  /** Spatial.join on `index` returns exactly the naive pairs, drops a
    * point in the L's notch, and plans as an equi-join on the cell id. */
  private def assertJoinMatchesNaive(index: CellIndex): Unit = {
    val s = spark
    import s.implicits._
    val (points, polyDf, naive) = joinScene()
    assert(pairs(Spatial.join(points, polyDf, index)) == naive, s"$index prefilter is lossless")
    // points in the L's notch are excluded although the notch is
    // inside the bbox cover
    val notch = Seq((1000L, 30.0, 60.0)).toDF("pid", "px", "py")
    assert(Spatial.join(notch, polyDf, index).where(col("polygon_id") === 2).count() == 0,
      s"$index notch excluded")
    // plan shape: an equi-join (hash/sort-merge/broadcast-HASH on the
    // cell key), NEVER a cartesian / nested-loop — the property that
    // keeps 10^12 x 10^6 feasible
    val plan = Spatial.join(points, polyDf, index).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"$index cartesian-free plan, got:\n$plan")
    assert(plan.contains("_cell"), s"$index join keyed on the cell id")
  }

  test("cell-prefilter polygonJoin equals the naive cross join, zoom-invariant") {
    // the cover is a lossless prefilter at coarse and fine resolutions
    // alike, including cells whose boundaries cut through the polygons
    Seq(2, 4, 6).foreach(z => assertJoinMatchesNaive(CellIndex.Quad(z, 0, 0, 100, 100)))
    val (points, polyDf, naive) = joinScene()
    assert(pairs(Spatial.polygonJoin(points, polyDf, 4, 0, 0, 100, 100)) == naive)
  }

  test("hexPolygonJoin equals the naive cross join, size-invariant") {
    Seq(3.0, 7.5, 25.0).foreach(size => assertJoinMatchesNaive(CellIndex.Hex(size)))
    val (points, polyDf, naive) = joinScene()
    assert(pairs(Spatial.hexPolygonJoin(points, polyDf, 7.5)) == naive)
  }

  test("rasterize equals brute-force center sampling, join-free plan") {
    val polys = Seq(
      (1L, Seq((10.0, 10.0), (40.0, 8.0), (50.0, 30.0), (30.0, 45.0), (8.0, 30.0))),
      (2L, concaveL.map { case (x, y) => (x * 8, y * 8) }),
      (3L, Seq((60.0, 60.0), (90.0, 60.0), (75.0, 90.0))))
    val polyRows = polys.map { case (id, vs) => Row(id, vs.map { case (x, y) => Row(x, y) }) }
    val polyDf = spark.createDataFrame(
      spark.sparkContext.parallelize(polyRows, 2),
      StructType(Seq(StructField("polygon_id", LongType), StructField("vertices", vertexType))))

    for (zoom <- Seq(3, 5, 6)) {
      val n = 1 << zoom
      val cell = 100.0 / n
      // brute force: every cell center against every polygon, via the
      // independent JDK even-odd test
      val want = (for {
        (id, vs) <- polys
        cy <- 0 until n
        cx <- 0 until n
        if awtContains(vs, (cx + 0.5) * cell, (cy + 0.5) * cell)
      } yield (id, cx.toLong, cy.toLong)).toSet
      val got = Spatial.rasterize(polyDf, zoom, 0, 0, 100, 100)
        .select("polygon_id", "cx", "cy")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty, s"zoom=$zoom scene covers cells")
      assert(got == want, s"zoom=$zoom center-sample rasterization exact")
      // the L's notch cells (inside bbox, outside polygon) are dropped
      assert(!got.contains((2L, (30.0 / cell).toLong, (60.0 / cell).toLong)),
        s"zoom=$zoom notch cell excluded")
    }

    // plan shape: explode + filter only — no join, no exchange; the
    // operator is embarrassingly parallel over polygon rows
    val plan = Spatial.rasterize(polyDf, 5, 0, 0, 100, 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"join/shuffle-free plan, got:\n$plan")
  }

  test("hex cell: nearest-center assignment, center round-trip, pack bijection") {
    val s = spark
    import s.implicits._
    val size = 7.0
    val sqrt3 = math.sqrt(3.0)

    // brute-force truth: a point belongs to the hex whose center is
    // closest (Voronoi of hex centers IS the hex grid)
    def nearestCenter(px: Double, py: Double): (Long, Long) = {
      val candidates = for {
        q <- -40L to 40L
        r <- -40L to 40L
      } yield {
        val cx = size * (sqrt3 * q + sqrt3 / 2.0 * r)
        val cy = size * 1.5 * r
        val d2 = (px - cx) * (px - cx) + (py - cy) * (py - cy)
        (d2, (q, r))
      }
      candidates.minBy(_._1)._2
    }

    val rnd = new scala.util.Random(11)
    val pts = (0 until 400).map(i =>
      (i.toLong, (rnd.nextDouble() - 0.5) * 300, (rnd.nextDouble() - 0.5) * 300))
    val got = pts.toDF("id", "px", "py")
      .select(col("id"), Spatial.hexCellOfPoint(col("px"), col("py"), size).as("cell"))
      .select(col("id"), Spatial.hexQ(col("cell")).as("q"), Spatial.hexR(col("cell")).as("r"))
      .orderBy("id").collect().map(r => (r.getLong(1), r.getLong(2)))
    pts.zip(got).foreach { case ((_, px, py), (gq, gr)) =>
      assert((gq, gr) == nearestCenter(px, py), s"($px,$py) nearest-center")
    }

    // center round-trip: the center of every cell maps back to that cell
    val cells = (for (q <- -15L to 15L; r <- -15L to 15L) yield (q, r)).toDF("q", "r")
      .select(Spatial.hexPack(col("q"), col("r")).as("cell"), col("q"), col("r"))
    val bad = cells.select(
      col("q"), col("r"),
      Spatial.hexQ(col("cell")).as("uq"), Spatial.hexR(col("cell")).as("ur"),
      Spatial.hexQ(Spatial.hexCellOfPoint(
        Spatial.hexCenterX(col("cell"), size),
        Spatial.hexCenterY(col("cell"), size), size)).as("cq"),
      Spatial.hexR(Spatial.hexCellOfPoint(
        Spatial.hexCenterX(col("cell"), size),
        Spatial.hexCenterY(col("cell"), size), size)).as("cr"))
      .where(col("uq") =!= col("q") || col("ur") =!= col("r") ||
        col("cq") =!= col("q") || col("cr") =!= col("r"))
    assert(bad.count() == 0, "pack/unpack bijection + center round-trip")
  }

  test("hex disk: size 1+3k(k+1), symmetric membership, kNN pigeonhole") {
    val s = spark
    import s.implicits._
    val origin = Seq((0L, 0L)).toDF("q", "r")
      .select(Spatial.hexPack(col("q"), col("r")).as("cell"))
    for (k <- 1 to 4) {
      val disk = origin.select(explode(Spatial.hexDisk(col("cell"), k)).as("n"))
        .select(Spatial.hexQ(col("n")).as("q"), Spatial.hexR(col("n")).as("r"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(disk.size == 1 + 3 * k * (k + 1), s"k=$k disk size")
      assert(disk.contains((0L, 0L)), "contains self")
      // membership is exactly hex distance <= k
      disk.foreach { case (q, r) =>
        val dist = Seq(math.abs(q), math.abs(r), math.abs(q + r)).max
        assert(dist <= k, s"($q,$r) within ring $k")
      }
      // symmetry: b in disk(a) <=> a in disk(b) (disk of -q,-r mirrors)
      assert(disk.map { case (q, r) => (-q, -r) } == disk, s"k=$k symmetric")
    }

    // pigeonhole for kNN: any point within k * inradius-diameter of
    // another point's location is inside the k-disk of its cell — the
    // guarantee ring-expansion candidate search relies on. Sample
    // pairs at planted distances and check the candidate is found.
    val size = 5.0
    val rnd = new scala.util.Random(23)
    val pairs = (0 until 200).map { i =>
      val ax = (rnd.nextDouble() - 0.5) * 200
      val ay = (rnd.nextDouble() - 0.5) * 200
      val ang = rnd.nextDouble() * 2 * math.Pi
      val d = rnd.nextDouble() * size * math.sqrt(3.0) // within one hex width
      (i.toLong, ax, ay, ax + d * math.cos(ang), ay + d * math.sin(ang))
    }.toDF("id", "ax", "ay", "bx", "by")
    val missed = pairs
      .withColumn("bcell", Spatial.hexCellOfPoint(col("bx"), col("by"), size))
      .withColumn("acand", Spatial.hexDisk(
        Spatial.hexCellOfPoint(col("ax"), col("ay"), size), 2))
      .where(!array_contains(col("acand"), col("bcell")))
    assert(missed.count() == 0,
      "every point within one hex width is inside the k=2 disk")
  }
}
