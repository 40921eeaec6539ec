package graft.sql

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core._

/** Cross-checks the Column expression library against the pure-Scala
  * core on randomized coords, plus generator-relation semantics. */
class TileFunctionsSpec extends SparkTestBase {
  import TileFunctions._

  private lazy val coords: Seq[(Int, Long, Long)] = {
    val rnd = new scala.util.Random(42)
    (0 until 500).map { _ =>
      val z = rnd.nextInt(21)
      (z, math.abs(rnd.nextLong()) % (1L << z max 1), math.abs(rnd.nextLong()) % (1L << z max 1))
    } :+ ((0, 0L, 0L))
  }

  private lazy val df = {
    val s = spark
    import s.implicits._
    coords.toDF("z", "x", "y").cache()
  }

  test("quadkey expression matches core codec (and SQL registration)") {
    val got = df
      .select(col("z"), col("x"), col("y"), quadkey(col("z"), col("x"), col("y")).as("qk"))
      .collect()
    got.foreach { r =>
      val expect =
        I3DTileLayout.quadcode(TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)))
      assert(r.getString(3) == expect)
    }
    // via SQL function registry
    df.createOrReplaceTempView("qk_in")
    val viaSql =
      spark.sql("SELECT tc_quadkey(z, x, y) qk FROM qk_in").collect().map(_.getString(0))
    assert(viaSql.toSeq == got.map(_.getString(3)).toSeq)
  }

  test("cellId is a bijection and preserves hierarchy as a range") {
    val got = df
      .select(col("z"), col("x"), col("y"), cellId(col("z"), col("x"), col("y")).as("c"))
      .collect()
    got.foreach { r =>
      val (z, x, y) = (r.getInt(0), r.getLong(1), r.getLong(2))
      val c = r.getLong(3)
      assert(TileCodecs.cellIdToCoord(c) == ((z, x, y)))
      if (z > 0) {
        val p = TileCodecs.cellId(z - 1, x / 2, y / 2)
        assert(c >= (p << 2) && c < (p << 2) + 4, "child in parent range")
      }
    }
    // injectivity over the DISTINCT inputs (the generator repeats
    // (0,0,0) for every z=0 draw, so comparing against got.length would
    // short-circuit the check)
    assert(got.map(_.getLong(3)).distinct.length == coords.distinct.size)
  }

  test("tcHash / everyNth matches reference hash") {
    val got =
      df.select(col("z"), col("x"), col("y"), tcHash(col("z"), col("x"), col("y")).as("h")).collect()
    got.foreach { r =>
      assert(r.getLong(3) == TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)).tcHash)
    }
  }

  test("tileOfPoint matches grid.tilecoord on corpus-like points") {
    val rnd = new scala.util.Random(7)
    val s = spark
    import s.implicits._
    val pts = (0 until 300).map { _ =>
      val e = TileGrids.Google.maxExtent
      (e.minX + rnd.nextDouble() * e.width * 0.999,
       e.minY + rnd.nextDouble() * e.height * 0.999)
    }
    val z = 8
    val got = pts
      .toDF("px", "py")
      .select(
        col("px"), col("py"),
        tileOfPointX(col("px"), lit(z)).as("tx"),
        tileOfPointY(col("py"), lit(z)).as("ty"))
      .collect()
    got.foreach { r =>
      val expect = TileGrids.Google.tilecoord(z, r.getDouble(0), r.getDouble(1))
      assert(r.getLong(2) == expect.x && r.getLong(3) == expect.y)
    }
  }

  test("tileExtent matches grid.extent") {
    val cols = Seq(
      (col("z") % 15).cast("int").as("z"),
      (col("x") % 1000).as("x"),
      (col("y") % 1000).as("y")) ++
      tileExtent((col("z") % 15).cast("int"), col("x") % 1000, col("y") % 1000)
    val got = df
      .select(cols: _*)
      .where(col("x") < pow2(col("z")) && col("y") < pow2(col("z")))
      .collect()
    got.foreach { r =>
      val e = TileGrids.Google.extent(TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)))
      assert(r.getDouble(3) == e.minX && r.getDouble(4) == e.minY)
      assert(r.getDouble(5) == e.maxX && r.getDouble(6) == e.maxY)
    }
  }

  test("children / parent / tmsY round-trips") {
    val got = df
      .where(col("z") > 0)
      .select(
        col("z"), col("x"), col("y"),
        explode(children(col("z"), col("x"), col("y"))).as("c"))
      .select(col("z"), col("x"), col("y"), col("c.z").as("cz"), col("c.x").as("cx"), col("c.y").as("cy"))
      .withColumn("p", parent(col("cz"), col("cx"), col("cy")))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Row]("p") == Row(r.getInt(0), r.getLong(1), r.getLong(2)))
    }
    val flips = df
      .select(col("z"), col("y"), tmsY(col("z"), tmsY(col("z"), col("y"))).as("y2"))
      .collect()
    flips.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("enumeratePyramid matches driver-side enumeration exactly") {
    for (spec <- Seq("4/8/5:+3/+1/+1", "0/0/0:2/*/*", "5/9/13:12/15")) {
      val bp = BoundingPyramid.fromString(spec)
      val rows = enumeratePyramid(spark, bp)
        .collect()
        .map(r => TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(rows == bp.iterTopDown.toSet, spec)
      assert(rows.size == bp.size)
    }
  }

  test("wmtsKvpUrl column matches core WMTSTileLayout.filename") {
    val layout = graft.core.WMTSTileLayout(
      url = "http://wmts.example.org/", layer = "lyr", style = "default",
      format = "image/png", tileMatrixSet = "webmercator")
    val got = df
      .select(
        col("z"), col("x"), col("y"),
        wmtsKvpUrl(
          "http://wmts.example.org/", "lyr", "default", "image/png",
          "webmercator", col("z"), col("x"), col("y")).as("url"))
      .collect()
    got.foreach { r =>
      assert(
        r.getString(3) ==
          layout.filename(TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)), Map.empty))
    }
  }

  test("wmtsUrl layout column (KVP + REST, dimensions) matches core filename") {
    for (encoding <- Seq("KVP", "REST")) {
      val layout = graft.core.WMTSTileLayout(
        url = "http://wmts.example.org/", layer = "lyr", style = "default",
        format = if (encoding == "KVP") "image/png" else ".png",
        tileMatrixSet = "webmercator",
        dimensionsName = Seq("DATE", "ELEVATION"),
        requestEncoding = encoding)
      val meta = org.apache.spark.sql.functions.map(
        lit("dimension_DATE"), concat(lit("2026-"), col("z").cast("string")),
        lit("dimension_ELEVATION"), lit("100"))
      val got = df
        .select(
          col("z"), col("x"), col("y"),
          TileFunctions.wmtsUrl(layout, col("z"), col("x"), col("y"), meta).as("url"))
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        assert(
          r.getString(3) == layout.filename(
            TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)),
            Map(
              "dimension_DATE" -> s"2026-${r.getInt(0)}",
              "dimension_ELEVATION" -> "100")),
          s"$encoding ${r.getInt(0)}/${r.getLong(1)}/${r.getLong(2)}")
      }
    }
  }

  test("wmsUrl with dimension metadata matches core filename") {
    val layout = graft.core.WMSTileLayout(
      url = "http://wms.example.org/wms", layers = "roads",
      srs = "EPSG:3857", format = "image/png", grid = TileGrids.Google)
    val meta = org.apache.spark.sql.functions.map(
      lit("dimension_DATE"), concat(lit("2026 01/"), col("z").cast("string")))
    val got = df
      .where(col("z") <= 12)
      .select(
        col("z"), col("x"), col("y"),
        TileFunctions.wmsUrl(
          layout, col("z"), col("x"), col("y"),
          dimensionNames = Seq("DATE"), metadata = meta).as("url"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(
        r.getString(3) == layout.filename(
          TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)),
          Map("dimension_DATE" -> s"2026 01/${r.getInt(0)}")))
    }
  }

  test("templateUrl/mirrorUrl match core TemplateTileLayout and spread by tile hash") {
    val a = graft.core.TemplateTileLayout("https://a.tiles.example/%(z)d/%(x)d/%(y)d.png")
    val b = graft.core.TemplateTileLayout("https://b.tiles.example/%(z)d/%(x)d/%(y)d.png")
    val got = df
      .select(
        col("z"), col("x"), col("y"),
        TileFunctions.templateUrl(a, col("z"), col("x"), col("y")).as("u"),
        TileFunctions.mirrorUrl(Seq(a, b), col("z"), col("x"), col("y")).as("m"))
      .collect()
    got.foreach { r =>
      val tc = TileCoord(r.getInt(0), r.getLong(1), r.getLong(2))
      assert(r.getString(3) == a.filename(tc, Map.empty))
      // selection follows the consistent tile hash (url.py:34 contract)
      val expected =
        if (Math.floorMod((tc.x << tc.z) ^ tc.y, 2L) == 0L) a.filename(tc, Map.empty)
        else b.filename(tc, Map.empty)
      assert(r.getString(4) == expected)
    }
    // both mirrors actually used
    assert(got.map(_.getString(4).charAt(8)).toSet == Set('a', 'b'))
  }

  test("tc_cellid <-> tc_cellz/cellx/celly round-trip in SQL") {
    val rows = spark.sql(
      """SELECT z, x, y,
        |  tc_cellz(tc_cellid(z, x, y)) AS rz,
        |  tc_cellx(tc_cellid(z, x, y)) AS rx,
        |  tc_celly(tc_cellid(z, x, y)) AS ry
        |FROM VALUES (0, 0L, 0L), (3, 5L, 2L), (12, 4000L, 95L),
        |            (30, 1073741823L, 1L) AS t(z, x, y)""".stripMargin)
      .collect()
    rows.foreach { r =>
      assert(r.getInt(3) == r.getInt(0))
      assert(r.getLong(4) == r.getLong(1))
      assert(r.getLong(5) == r.getLong(2))
    }
  }

  test("tc_sorted_intersect_count / tc_minhash_sig registered in SQL") {
    val c = spark.sql(
      "SELECT tc_sorted_intersect_count(array(1L,3L,5L,9L), array(3L,4L,9L)) AS c")
      .head().getInt(0)
    assert(c == 2)
    val sig = spark.sql(
      "SELECT tc_minhash_sig(array('a b', 'b c'), 4) AS s")
      .head().getSeq[Long](0)
    assert(sig.length == 4 && sig.forall(_ >= 0L))
    // k defaults to 16
    assert(spark.sql("SELECT tc_minhash_sig(array('a b')) AS s")
      .head().getSeq[Long](0).length == 16)
  }

  test("wmsUrl column matches core WMSTileLayout.filename") {
    for (border <- Seq(0, 5)) {
      val layout = graft.core.WMSTileLayout(
        url = "http://wms.example.org/wms", layers = "roads,water",
        srs = "EPSG:3857", format = "image/png",
        grid = TileGrids.Google, border = border,
        params = Map("EXCEPTIONS" -> "XML"))
      val got = df
        .where(col("z") <= 12) // realistic WMS zooms
        .select(
          col("z"), col("x"), col("y"),
          TileFunctions.wmsUrl(layout, col("z"), col("x"), col("y")).as("url"))
        .collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        assert(
          r.getString(3) ==
            layout.filename(TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)), Map.empty))
      }
    }
  }

  test("freeTileOfPoint matches FreeTileGrid.tilecoord (swiss-like grid)") {
    val grid = FreeTileGrid(
      resolutions = IndexedSeq(750.0, 20.0, 10.0, 5.0),
      maxExtent = Extent(420000.0, 30000.0, 900000.0, 350000.0),
      tileSize = 100.0)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (0 until 400).map { _ =>
      val z = rnd.nextInt(4)
      val px = grid.maxExtent.minX + rnd.nextDouble() * grid.maxExtent.width
      val py = grid.maxExtent.minY + rnd.nextDouble() * grid.maxExtent.height
      (z, px, py)
    }
    val got = pts.toDF("z", "px", "py")
      .select(
        col("z"), col("px"), col("py"),
        freeTileOfPointX(col("px"), col("z"), grid).as("tx"),
        freeTileOfPointY(col("py"), col("z"), grid).as("ty"))
      .collect()
    got.foreach { r =>
      val expect = grid.tilecoord(r.getInt(0), r.getDouble(1), r.getDouble(2))
      assert(r.getLong(3) == expect.x && r.getLong(4) == expect.y,
        s"z=${r.getInt(0)} px=${r.getDouble(1)} py=${r.getDouble(2)}")
    }
  }

  test("regionSemiJoin equals semi-join against the enumerated pyramid") {
    for (spec <- Seq("4/8/5:+3/+1/+1", "2/1/1:4/6/7")) {
      val bp = BoundingPyramid.fromString(spec)
      val viaBounds = regionSemiJoin(df, bp)
        .select("z", "x", "y").collect().toSet
      val viaEnum = df
        .join(enumeratePyramid(spark, bp), Seq("z", "x", "y"), "left_semi")
        .select("z", "x", "y").collect().toSet
      assert(viaBounds == viaEnum, spec)
    }
  }

  test("enumerateMetatiles matches driver-side metatilecoords") {
    val bp = BoundingPyramid.full(1, 2)
    val rows = enumerateMetatiles(spark, bp, 2)
      .collect()
      .map(r => TileCoord(r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(rows == bp.metatilecoords(2).toSet)
  }

  test("enumerateMetatiles skips empty levels instead of overflowing the sentinel bounds") {
    // a level holding Bounds.empty carries (Long.MaxValue, Long.MinValue);
    // the count arithmetic would wrap into one garbage meta-tile while the
    // driver-side metatilecoords correctly yields nothing
    val bp = graft.core.BoundingPyramid(
      2 -> ((graft.core.Bounds(0L, 2L), graft.core.Bounds(0L, 2L))),
      3 -> ((graft.core.Bounds.empty, graft.core.Bounds.empty)))
    val rows = enumerateMetatiles(spark, bp, 2)
      .collect()
      .map(r => TileCoord(r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(rows == bp.metatilecoords(2).toSet, "must equal the driver form")
    assert(rows.forall(_.z == 2), s"no garbage z=3 meta-tile: $rows")
    // all-empty pyramid → empty relation, same schema
    val none = graft.core.BoundingPyramid(
      1 -> ((graft.core.Bounds.empty, graft.core.Bounds.empty)))
    assert(enumerateMetatiles(spark, none, 2).count() == 0L)
  }

  test("wmtsKvpUrl/wmtsUrl with an EMPTY base url match core (query-only relative URL)") {
    val layout = graft.core.WMTSTileLayout(
      url = "", layer = "lyr", style = "default",
      format = "image/png", tileMatrixSet = "g")
    val want = layout.filename(TileCoord(3, 2L, 1L), Map.empty)
    assert(want.startsWith("?"), s"core contract: $want")
    val s = spark
    import s.implicits._
    val one = Seq((3, 2L, 1L)).toDF("z", "x", "y")
    val gotK = one
      .select(wmtsKvpUrl("", "lyr", "default", "image/png", "g",
        col("z"), col("x"), col("y")))
      .head().getString(0)
    assert(gotK == want, s"$gotK != $want")
    val gotL = one
      .select(TileFunctions.wmtsUrl(layout, col("z"), col("x"), col("y")))
      .head().getString(0)
    assert(gotL == want, s"$gotL != $want")
  }

  test("inPyramid predicate equals core contains") {
    val bp = BoundingPyramid.fromString("4/8/5:+3/+1/+1")
    val got = df
      .select(col("z"), col("x"), col("y"),
        inPyramid(bp, col("z"), col("x"), col("y")).as("m"))
      .collect()
    got.foreach { r =>
      assert(
        r.getBoolean(3) == bp.contains(TileCoord(r.getInt(0), r.getLong(1), r.getLong(2))))
    }
  }

  test("layout path columns match core layouts") {
    val got = df
      .select(col("z"), col("x"), col("y"),
        osmPath(col("z"), col("x"), col("y")).as("osm"),
        tileCachePath(col("z"), col("x"), col("y")).as("tc"))
      .collect()
    got.foreach { r =>
      val tc = TileCoord(r.getInt(0), r.getLong(1), r.getLong(2))
      assert(r.getString(3) == OSMTileLayout.filename(tc))
      assert(r.getString(4) == TileCacheDiskLayout.filename(tc))
    }
  }

  test("mercator 4326<->3857 round-trips GPS degrees and hits known meter values") {
    val s = spark
    import s.implicits._
    val pts = Seq((48.858, 2.351), (-33.868, 151.207), (0.0, 0.0),
      (84.9, -179.9), (-84.9, 0.001)).toDF("lat", "lon")
    val got = pts.select(
      col("lat"), col("lon"),
      TileFunctions.mercatorX(col("lon")).as("x"),
      TileFunctions.mercatorY(col("lat")).as("y"),
      TileFunctions.inverseMercatorLon(
        TileFunctions.mercatorX(col("lon"))).as("lon2"),
      TileFunctions.inverseMercatorLat(
        TileFunctions.mercatorY(col("lat"))).as("lat2")).collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(5)) < 1e-9, s"lat $r")
      assert(math.abs(r.getDouble(1) - r.getDouble(4)) < 1e-9, s"lon $r")
    }
    // independent anchor: the spherical-mercator formula evaluated in
    // CPython's libm (a different implementation than the JVM's):
    // (48.858N, 2.351E) -> x=261712.122855, y=6250801.222325 and
    // (33.868S, 151.207E) -> x=16832286.244379, y=-4011091.392734
    val paris = got.find(_.getDouble(0) == 48.858).get
    assert(math.abs(paris.getDouble(2) - 261712.122855) < 1e-4, paris)
    assert(math.abs(paris.getDouble(3) - 6250801.222325) < 1e-4, paris)
    val sydney = got.find(_.getDouble(0) == -33.868).get
    assert(math.abs(sydney.getDouble(2) - 16832286.244379) < 1e-4, sydney)
    assert(math.abs(sydney.getDouble(3) - (-4011091.392734)) < 1e-4, sydney)
    // projected points stay inside the grid's square extent
    got.foreach { r =>
      assert(math.abs(r.getDouble(2)) <= 20037508.34 &&
        math.abs(r.getDouble(3)) <= 20037508.34, r)
    }
  }

  test("quadkey stays inside whole-stage codegen") {
    val plan = df
      .select(quadkey(col("z"), col("x"), col("y")).as("qk"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project [static_invoke(graft.sql.TileCodecs.quadkeyUtf8("), plan)
  }
}
