package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BoundingPyramid
import graft.sql.{Jobs, TileFunctions}
import graft.sql.TileFunctions._

/** The operator inventory as (Spark query, DuckDB oracle SQL) pairs over
  * the driver's parquet tables. Tile coordinates are derived from
  * existing integer keys (FIXTURES.md §7):
  * `z = l_linenumber % 8`, `x = l_orderkey % 2^z`, `y = l_partkey % 2^z`
  * so every coordinate operator is DuckDB-expressible over the same
  * files. Column aliases match the oracle SQL exactly (driver hashes
  * sorted-by-name columns).
  */
object GraftQueries {

  // the read's schema inference is an eager job
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Jobs.described(s, "GraftQueries.table")(s.read.parquet(s"$dir/$name.parquet"))

  /** The three-polygon test scene shared by the raster↔vector pair
    * (q68 point-in-polygon, q70 rasterize): a pentagon, a CONCAVE L
    * whose notch defeats any convex shortcut, and an overlapping
    * triangle over a 1000×1000 planar extent. ONE definition feeds
    * both queries and both oracle SQL strings, so the pair the
    * comments call a dual cannot silently drift apart. Vertices carry
    * non-dyadic decimals so no edge passes exactly through a tested
    * point. */
  private val SpatialScene: Seq[(Long, Seq[(Double, Double)])] = Seq(
    (1L, Seq((100.3, 100.7), (400.1, 80.9), (500.7, 300.3), (300.9, 450.1), (80.3, 300.9))),
    (2L, Seq((550.1, 550.7), (950.3, 550.9), (950.7, 950.1), (790.9, 950.3), (790.1, 710.7), (550.9, 710.1))),
    (3L, Seq((200.7, 50.3), (600.9, 200.1), (250.3, 400.7))))

  /** [[SpatialScene]] as a `(polygon_id, vertices)` frame with the
    * `array<struct<x,y>>` column [[graft.engine.Spatial]] expects. */
  private def spatialSceneDf(s: SparkSession): DataFrame = {
    import s.implicits._
    SpatialScene.toDF("polygon_id", "vraw")
      .select(col("polygon_id"),
        transform(col("vraw"), v => struct(
          v.getField("_1").as("x"), v.getField("_2").as("y"))).as("vertices"))
  }

  /** [[SpatialScene]] as DuckDB VALUES rows (list-of-struct vertex
    * literals). All coordinates are one-decimal doubles, so
    * Double.toString renders them exactly. */
  private val spatialSceneSql: String = SpatialScene.map { case (id, vs) =>
    val lits = vs.map { case (x, y) => s"{'x': $x, 'y': $y}" }.mkString(", ")
    s"    (CAST($id AS BIGINT), [$lits])"
  }.mkString(",\n")

  /** Derived tile coords from lineitem keys. */
  private def coords(s: SparkSession, dir: String): DataFrame = {
    val z = (col("l_linenumber") % 8).cast("int")
    table(s, dir, "lineitem").select(
      z.as("z"),
      pmod(col("l_orderkey"), pow2(z)).as("x"),
      pmod(col("l_partkey"), pow2(z)).as("y"),
      col("l_returnflag").as("flag"),
      col("l_quantity").as("qty"))
  }

  /** The same derivation as a DuckDB CTE. */
  private val CoordsCte =
    """coords AS (
      |  SELECT CAST(l_linenumber % 8 AS INT) AS z,
      |         l_orderkey % (1::BIGINT << CAST(l_linenumber % 8 AS INT)) AS x,
      |         l_partkey % (1::BIGINT << CAST(l_linenumber % 8 AS INT)) AS y,
      |         l_returnflag AS flag,
      |         l_quantity AS qty
      |  FROM lineitem
      |)""".stripMargin

  /** Render a pyramid enumeration as literal DuckDB SQL (UNION ALL of
    * inclusive generate_series blocks per level). */
  private def enumSql(bp: BoundingPyramid): String =
    bp.bounds.toSeq
      .map { case (z, (xb, yb)) =>
        s"""SELECT CAST($z AS INT) AS z, gx.x AS x, gy.y AS y
           |FROM generate_series(${xb.start}, ${xb.stop - 1}) gx(x)
           |CROSS JOIN generate_series(${yb.start}, ${yb.stop - 1}) gy(y)""".stripMargin
      }
      .mkString("\nUNION ALL\n")

  private val FlagshipSpec = "4/8/5:+3/+1/+1"

  /** Render the covering-metatile enumeration (span n) as literal DuckDB
    * SQL — the same aligned-origin arithmetic as
    * TileFunctions.enumerateMetatiles, computed driver-side. */
  private def metaEnumSql(bp: BoundingPyramid, n: Int): String =
    bp.bounds.toSeq
      .map { case (z, (xb, yb)) =>
        val mx0 = n * (xb.start / n)
        val my0 = n * (yb.start / n)
        val xCount = (xb.stop - mx0 + n - 1) / n
        val yCount = (yb.stop - my0 + n - 1) / n
        s"""SELECT CAST($z AS INT) AS z, $mx0 + gx.i * $n AS x,
           |       $my0 + gy.j * $n AS y, CAST($n AS INT) AS n
           |FROM generate_series(0, ${xCount - 1}) gx(i)
           |CROSS JOIN generate_series(0, ${yCount - 1}) gy(j)""".stripMargin
      }
      .mkString("\nUNION ALL\n")

  // ---- generated SQL fragments for the dedup/ANN oracles ---- //

  /** Word + shingle CTEs (n=2 word shingles over documents). */
  private val ShingleCtes =
    """w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |sh AS (SELECT doc_id, [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS sl
      |       FROM w WHERE len(ws) >= 2)""".stripMargin

  /** MinHash signature select list s0..s{k-1} in DuckDB syntax. */
  private def minhashSigSql(k: Int): String =
    graft.dedup.Dedup.minhashCoeffs(k).zipWithIndex.map { case ((a, b), j) =>
      s"list_min([($a * h + $b) % ${graft.dedup.Dedup.MinhashPrime} for h in hl]) AS s$j"
    }.mkString(",\n       ")

  /** SimHash 60-bit sum-of-bit-terms in DuckDB syntax. */
  private val simhashTermsSql: String =
    (0 until 60).map { kk =>
      s"(CASE WHEN sum(CASE WHEN (h >> $kk) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN (1::BIGINT << $kk) ELSE 0 END)"
    }.mkString(" +\n       ")

  /** LSH bucket expression from the shared plane constants. */
  private val lshPlanes = graft.ann.Ann.planes(64, 8)
  private def planeLiteral(p: Array[Double]): String =
    p.map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]::DOUBLE[]")
  private val lshBucketSql: String =
    lshPlanes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(e, ${planeLiteral(p)}) >= 0 THEN (1::BIGINT << $i) ELSE 0 END)"
    }.mkString(" +\n       ")

  /** Deterministic ±1 IVF centroids (distinct seed from the LSH
    * planes); ±1 keeps the DuckDB literal exact. */
  private val ivfCentroids: Seq[Array[Double]] = graft.ann.Ann.planes(64, 8, seed = 99L)

  /** Learned by `Bpe.train(documents, "text", 8)` on this corpus
    * (deterministic — BpeSpec re-derives them); pinned here so the
    * q58 oracle can replay the identical replace chain. */
  private val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"))

  private val cosineSql =
    "CAST(floor(1000000.0 * list_dot_product(%A, %B) / " +
      "(sqrt(list_dot_product(%A, %A)) * sqrt(list_dot_product(%B, %B)))) AS BIGINT)"
  private def cosE6(a: String, b: String): String =
    cosineSql.replace("%A", a).replace("%B", b)

  private val langScoreSql: Map[String, String] = Map(
    "en" -> """len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b'))""",
    "de" -> """len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein|zu)\b'))""",
    "fr" -> """len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un|une)\b'))""",
    "es" -> """len(regexp_extract_all(lower(text), '\b(el|los|las|es|y|un|una)\b'))""")

  // ---------------------------------------------------------------- //

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // Cheap bounding pyramid: per-z min/max bounds + counts
    // (reference store/mbtiles.py:109-116, scripts/tc_info.py:23-43).
    ("q01_pyramid_levels",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .groupBy("z")
          .agg(
            min("x").as("x_min"), max("x").as("x_max"),
            min("y").as("y_min"), max("y").as("y_max"),
            count(lit(1)).as("cnt")),
      Some(s"""WITH $CoordsCte
        |SELECT z, min(x) AS x_min, max(x) AS x_max,
        |       min(y) AS y_min, max(y) AS y_max, count(*) AS cnt
        |FROM coords GROUP BY z""".stripMargin)),

    // Point -> tile assignment kernel (reference grid/quad.py:78-83):
    // deterministic WebMercator points from integer keys, assigned at z=6.
    ("q02_point_assign",
      (s: SparkSession, dir: String) => {
        val e = graft.core.TileGrids.Google.maxExtent
        table(s, dir, "lineitem")
          .select(
            (lit(e.minX) + lit(e.width) * ((col("l_orderkey") % 1000) / 1000.0)).as("px"),
            (lit(e.minY) + lit(e.height) * ((col("l_partkey") % 1000) / 1000.0)).as("py"))
          .select(
            tileOfPointX(col("px"), lit(6)).as("x"),
            tileOfPointY(col("py"), lit(6)).as("y"))
          .groupBy("x", "y")
          .agg(count(lit(1)).as("cnt"))
      },
      // NB: DuckDB CAST(double AS BIGINT) rounds; Spark's cast truncates.
      // trunc() first for identical semantics (reference uses int()).
      Some("""WITH pts AS (
        |  SELECT (-20037508.34 + (20037508.34 - (-20037508.34)) * ((l_orderkey % 1000) / 1000.0)) AS px,
        |         (-20037508.34 + (20037508.34 - (-20037508.34)) * ((l_partkey % 1000) / 1000.0)) AS py
        |  FROM lineitem),
        |t AS (
        |  SELECT CAST(trunc(((px - (-20037508.34)) * (1::BIGINT << 6)) / (20037508.34 - (-20037508.34))) AS BIGINT) AS tx,
        |         CAST(trunc(((py - (-20037508.34)) * (1::BIGINT << 6)) / (20037508.34 - (-20037508.34))) AS BIGINT) AS ty0
        |  FROM pts)
        |SELECT tx AS x, (1::BIGINT << 6) - ty0 - 1 AS y, count(*) AS cnt
        |FROM t GROUP BY 1, 2""".stripMargin)),

    // Quadkey cell index (reference layout/i3d.py:25-43) + group count.
    ("q03_quadkey_agg",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .select(quadkey(col("z"), col("x"), col("y")).as("qk"))
          .groupBy("qk")
          .agg(count(lit(1)).as("cnt")),
      Some(s"""WITH $CoordsCte
        |SELECT coalesce(list_aggregate(
        |         [CAST(((x >> (z - i)) & 1) + 2 * ((y >> (z - i)) & 1) AS VARCHAR)
        |          for i in range(1, z + 1)],
        |         'string_agg', ''), '') AS qk,
        |       count(*) AS cnt
        |FROM coords GROUP BY 1""".stripMargin)),

    // Meta-tile snap (reference __init__.py:470-471), span 2.
    ("q04_metatile_snap",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .groupBy(
            col("z"),
            metatileX(col("x"), 2).as("mx"),
            metatileY(col("y"), 2).as("my"))
          .agg(count(lit(1)).as("cnt")),
      Some(s"""WITH $CoordsCte
        |SELECT z, x - x % 2 AS mx, y - y % 2 AS my, count(*) AS cnt
        |FROM coords GROUP BY 1, 2, 3""".stripMargin)),

    // Quad children explosion (reference grid/quad.py:24-29).
    ("q05_children",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .select(
            col("z"), col("x"), col("y"),
            explode(children(col("z"), col("x"), col("y"))).as("c"))
          .select(
            col("z"), col("x"), col("y"),
            col("c.z").as("cz"), col("c.x").as("cx"), col("c.y").as("cy")),
      Some(s"""WITH $CoordsCte
        |SELECT c.z, c.x, c.y, c.z + 1 AS cz,
        |       2 * c.x + d.dx AS cx, 2 * c.y + d.dy AS cy
        |FROM coords c
        |CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) d(dx, dy)""".stripMargin)),

    // Quad parent (reference grid/quad.py:70-73).
    ("q06_parent",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .where(col("z") > 0)
          .select(
            col("z"), col("x"), col("y"),
            (col("z") - 1).as("pz"),
            intDiv(col("x"), lit(2L)).as("px"),
            intDiv(col("y"), lit(2L)).as("py")),
      Some(s"""WITH $CoordsCte
        |SELECT z, x, y, z - 1 AS pz, x // 2 AS px, y // 2 AS py
        |FROM coords WHERE z > 0""".stripMargin)),

    // Bounding-pyramid enumeration as a generator relation
    // (reference __init__.py:245-279, examples/download.py:22-24).
    ("q07_enum_pyramid",
      (s: SparkSession, dir: String) =>
        enumeratePyramid(s, BoundingPyramid.fromString(FlagshipSpec)),
      Some(enumSql(BoundingPyramid.fromString(FlagshipSpec)))),

    // Anti-join resume: enumerated tiles not already present
    // (reference scripts/tc_copy.py:70-71 — THE checkpoint primitive).
    ("q08_anti_join_resume",
      (s: SparkSession, dir: String) =>
        enumeratePyramid(s, BoundingPyramid.fromString(FlagshipSpec))
          .join(coords(s, dir), Seq("z", "x", "y"), "left_anti"),
      Some(s"""WITH $CoordsCte, enum AS (
        |${enumSql(BoundingPyramid.fromString(FlagshipSpec))})
        |SELECT e.z, e.x, e.y FROM enum e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM coords c
        |  WHERE c.z = e.z AND c.x = e.x AND c.y = e.y)""".stripMargin)),

    // EveryNth consistent-hash sharding (reference filter/consistenthash.py).
    ("q09_everynth",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .where(TileFunctions.everyNth(col("z"), col("x"), col("y"), 4, 1))
          .select("z", "x", "y"),
      Some(s"""WITH $CoordsCte
        |SELECT z, x, y FROM coords
        |WHERE xor(x << z, y) % 4 = 1""".stripMargin)),

    // SearchUp: nearest ancestor present in a sparse store
    // (reference store/searchup.py:4-33) as a hierarchical join.
    ("q10_searchup",
      (s: SparkSession, dir: String) => {
        val c = coords(s, dir)
        val store = c.where(col("flag") === "R").select("z", "x", "y").distinct()
        val targets = c.where(col("flag") === "A").select("z", "x", "y").distinct()
        targets
          .withColumn("d", explode(sequence(lit(0), col("z"))))
          .withColumn("az", (col("z") - col("d")).cast("int"))
          .withColumn("ax", shiftR(col("x"), col("d")))
          .withColumn("ay", shiftR(col("y"), col("d")))
          .join(
            store.select(
              col("z").as("az"), col("x").as("ax"), col("y").as("ay")),
            Seq("az", "ax", "ay"),
            "left_semi")
          .groupBy("z", "x", "y")
          .agg(min("d").as("d"))
          .select(
            col("z"), col("x"), col("y"), col("d"),
            (col("z") - col("d")).cast("int").as("az"),
            shiftR(col("x"), col("d")).as("ax"),
            shiftR(col("y"), col("d")).as("ay"))
      },
      Some(s"""WITH $CoordsCte,
        |store AS (SELECT DISTINCT z, x, y FROM coords WHERE flag = 'R'),
        |targets AS (SELECT DISTINCT z, x, y FROM coords WHERE flag = 'A'),
        |anc AS (
        |  SELECT t.z, t.x, t.y, CAST(g.d AS INT) AS d
        |  FROM targets t CROSS JOIN generate_series(0, 7) g(d)
        |  WHERE g.d <= t.z),
        |hit AS (
        |  SELECT a.z, a.x, a.y, a.d
        |  FROM anc a
        |  WHERE EXISTS (
        |    SELECT 1 FROM store s
        |    WHERE s.z = a.z - a.d AND s.x = (a.x >> a.d) AND s.y = (a.y >> a.d)))
        |SELECT z, x, y, min(d) AS d,
        |       CAST(z - min(d) AS INT) AS az,
        |       x >> min(d) AS ax, y >> min(d) AS ay
        |FROM hit GROUP BY z, x, y""".stripMargin)),

    // FindFirst: first non-null across prioritized stores — coalesce join
    // (reference store/findfirst.py:7-21).
    ("q11_findfirst",
      (s: SparkSession, dir: String) => {
        val c = coords(s, dir)
        val s1 = c.where(col("flag") === "R").groupBy("z", "x", "y")
          .agg(count(lit(1)).as("v1"))
        val s2 = c.where(col("flag") === "A").groupBy("z", "x", "y")
          .agg(count(lit(1)).as("v2"))
        c.select("z", "x", "y").distinct()
          .join(s1, Seq("z", "x", "y"), "left")
          .join(s2, Seq("z", "x", "y"), "left")
          .select(
            col("z"), col("x"), col("y"),
            coalesce(col("v1"), col("v2")).as("v"))
          .where(col("v").isNotNull)
      },
      Some(s"""WITH $CoordsCte,
        |s1 AS (SELECT z, x, y, count(*) AS v1 FROM coords WHERE flag = 'R' GROUP BY 1, 2, 3),
        |s2 AS (SELECT z, x, y, count(*) AS v2 FROM coords WHERE flag = 'A' GROUP BY 1, 2, 3),
        |base AS (SELECT DISTINCT z, x, y FROM coords)
        |SELECT b.z, b.x, b.y, coalesce(s1.v1, s2.v2) AS v
        |FROM base b
        |LEFT JOIN s1 ON s1.z = b.z AND s1.x = b.x AND s1.y = b.y
        |LEFT JOIN s2 ON s2.z = b.z AND s2.x = b.x AND s2.y = b.y
        |WHERE coalesce(s1.v1, s2.v2) IS NOT NULL""".stripMargin)),

    // XYZ <-> TMS y-flip view (reference store/mbtiles.py:50-65).
    ("q12_tms_flip",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .select(col("z"), col("x"), col("y"),
            tmsY(col("z"), col("y")).as("tms_y")),
      Some(s"""WITH $CoordsCte
        |SELECT z, x, y, (1::BIGINT << z) - y - 1 AS tms_y
        |FROM coords""".stripMargin)),

    // Completion report: per-z distinct coords / expected
    // (reference scripts/tc_info.py:44-53).
    ("q13_completion",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .groupBy("z")
          .agg(countDistinct(col("x"), col("y")).as("cnt"))
          .select(
            col("z"), col("cnt"),
            (pow2(col("z")) * pow2(col("z"))).as("expected"),
            floor(lit(1000000.0) * col("cnt") / (pow2(col("z")) * pow2(col("z"))))
              .cast("long").as("ratio_e6")),
      Some(s"""WITH $CoordsCte
        |SELECT z, count(DISTINCT (x, y)) AS cnt,
        |       (1::BIGINT << z) * (1::BIGINT << z) AS expected,
        |       CAST(floor((1000000.0 * count(DISTINCT (x, y))) /
        |            ((1::BIGINT << z) * (1::BIGINT << z))) AS BIGINT) AS ratio_e6
        |FROM coords GROUP BY z""".stripMargin)),

    // Layout path codecs as column expressions (reference layout/osm.py,
    // layout/tilecache.py).
    ("q14_layout_paths",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .select(col("z"), col("x"), col("y"))
          .distinct()
          .select(
            col("z"), col("x"), col("y"),
            osmPath(col("z"), col("x"), col("y")).as("osm"),
            tileCachePath(col("z"), col("x"), col("y")).as("tcache")),
      Some(s"""WITH $CoordsCte,
        |d AS (SELECT DISTINCT z, x, y FROM coords)
        |SELECT z, x, y,
        |       CAST(z AS VARCHAR) || '/' || CAST(x AS VARCHAR) || '/' || CAST(y AS VARCHAR) AS osm,
        |       lpad(CAST(z AS VARCHAR), 2, '0') || '/' ||
        |       substr(lpad(CAST(x AS VARCHAR), 9, '0'), 1, 3) || '/' ||
        |       substr(lpad(CAST(x AS VARCHAR), 9, '0'), 4, 3) || '/' ||
        |       substr(lpad(CAST(x AS VARCHAR), 9, '0'), 7, 3) || '/' ||
        |       substr(lpad(CAST(y AS VARCHAR), 9, '0'), 1, 3) || '/' ||
        |       substr(lpad(CAST(y AS VARCHAR), 9, '0'), 4, 3) || '/' ||
        |       substr(lpad(CAST(y AS VARCHAR), 9, '0'), 7, 3) AS tcache
        |FROM d""".stripMargin)),

    // Tile extents in WebMercator, floor-scaled to avoid float-format
    // fuzz (reference grid/quad.py:31-48).
    ("q15_extent",
      (s: SparkSession, dir: String) => {
        val base = coords(s, dir).select("z", "x", "y").distinct()
        val ext = tileExtent(col("z"), col("x"), col("y"))
        base.select(
          col("z"), col("x"), col("y"),
          floor(ext(0) * 10000).cast("long").as("minx_e4"),
          floor(ext(1) * 10000).cast("long").as("miny_e4"),
          floor(ext(2) * 10000).cast("long").as("maxx_e4"),
          floor(ext(3) * 10000).cast("long").as("maxy_e4"))
      },
      Some(s"""WITH $CoordsCte,
        |d AS (SELECT DISTINCT z, x, y FROM coords),
        |e AS (
        |  SELECT z, x, y,
        |         CAST((1::BIGINT << z) AS DOUBLE) AS scale,
        |         CAST((1::BIGINT << z) - y - 1 AS DOUBLE) AS yy
        |  FROM d)
        |SELECT z, x, y,
        |  CAST(floor((-20037508.34 + ((20037508.34 - (-20037508.34)) * CAST(x AS DOUBLE)) / scale) * 10000) AS BIGINT) AS minx_e4,
        |  CAST(floor((-20037508.34 + ((20037508.34 - (-20037508.34)) * yy) / scale) * 10000) AS BIGINT) AS miny_e4,
        |  CAST(floor((-20037508.34 + ((20037508.34 - (-20037508.34)) * CAST(x + 1 AS DOUBLE)) / scale) * 10000) AS BIGINT) AS maxx_e4,
        |  CAST(floor((-20037508.34 + ((20037508.34 - (-20037508.34)) * (yy + 1)) / scale) * 10000) AS BIGINT) AS maxy_e4
        |FROM e""".stripMargin)),

    // Windowed event aggregation (streaming-shaped op over the events
    // table; deterministic min/max instead of float sums).
    ("q16_events_hourly",
      (s: SparkSession, dir: String) =>
        table(s, dir, "events")
          .groupBy(
            unix_micros(date_trunc("hour", col("ts"))).as("hr_us"),
            col("event_type"))
          .agg(
            count(lit(1)).as("cnt"),
            floor(lit(1000000.0) * min("value")).cast("long").as("min_v_e6"),
            floor(lit(1000000.0) * max("value")).cast("long").as("max_v_e6")),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS hr_us, event_type,
        |       count(*) AS cnt,
        |       CAST(floor(1000000.0 * min(value)) AS BIGINT) AS min_v_e6,
        |       CAST(floor(1000000.0 * max(value)) AS BIGINT) AS max_v_e6
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // Skew-aware salted equi-join — must be row-identical to the plain
    // join (the salting is purely physical).
    ("q17_salted_join",
      (s: SparkSession, dir: String) => {
        val c = coords(s, dir)
        val dim = c.groupBy("z", "x", "y").agg(count(lit(1)).as("v"))
        graft.sql.Skew
          .saltedJoin(c.select("z", "x", "y"), dim, Seq("z", "x", "y"),
            hotThreshold = 500, saltFactor = 8)
          .groupBy("z", "x", "y", "v")
          .agg(count(lit(1)).as("cnt"))
      },
      Some(s"""WITH $CoordsCte,
        |dim AS (SELECT z, x, y, count(*) AS v FROM coords GROUP BY 1, 2, 3)
        |SELECT c.z, c.x, c.y, d.v, count(*) AS cnt
        |FROM coords c JOIN dim d ON d.z = c.z AND d.x = c.x AND d.y = c.y
        |GROUP BY 1, 2, 3, 4""".stripMargin)),

    // Spatial kNN: quadkey-ring candidate search + exact distance
    // ranking, vs the brute-force SQL oracle.
    ("q18_spatial_knn",
      (s: SparkSession, dir: String) => {
        val e = graft.core.TileGrids.Google.maxExtent
        val pts = table(s, dir, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("image_id"),
          (lit(e.minX) + lit(e.width) * ((col("l_orderkey") % 1000) / 1000.0)).as("px"),
          (lit(e.minY) + lit(e.height) * ((col("l_partkey") % 1000) / 1000.0)).as("py"))
        val assigned = pts
          .withColumn("z", lit(6))
          .withColumn("x", tileOfPointX(col("px"), lit(6)))
          .withColumn("y", tileOfPointY(col("py"), lit(6)))
        val qx = e.minX + e.width * 0.31
        val qy = e.minY + e.height * 0.77
        // output the ranked ids only: the raw squared distance differs
        // across engines in the final ulp (~2e-15 relative), which a
        // floor() would surface; membership+order are the contract
        graft.engine.SpatialKnn.nearest(assigned, qx, qy, 6, 25)
          .select(col("image_id").as("id"))
      },
      Some("""WITH pts AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS id,
        |    (-20037508.34 + (20037508.34 - (-20037508.34)) * ((l_orderkey % 1000) / 1000.0)) AS px,
        |    (-20037508.34 + (20037508.34 - (-20037508.34)) * ((l_partkey % 1000) / 1000.0)) AS py
        |  FROM lineitem),
        |q AS (SELECT (-20037508.34 + (20037508.34 - (-20037508.34)) * 0.31) AS qx,
        |             (-20037508.34 + (20037508.34 - (-20037508.34)) * 0.77) AS qy)
        |SELECT id
        |FROM pts CROSS JOIN q
        |ORDER BY (px - qx) * (px - qx) + (py - qy) * (py - qy), id
        |LIMIT 25""".stripMargin)),

    // Batch ring-bounded kNN: many queries at once via ring-cell
    // explode + one equi-join + per-query window top-k (the
    // distributed form of q18's single-query expansion).
    ("q34_knn_batch",
      (s: SparkSession, dir: String) => {
        val e = graft.core.TileGrids.Google.maxExtent
        val pts = table(s, dir, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("image_id"),
          (lit(e.minX) + lit(e.width) * ((col("l_orderkey") % 1000) / 1000.0)).as("px"),
          (lit(e.minY) + lit(e.height) * ((col("l_partkey") % 1000) / 1000.0)).as("py"))
        val assigned = pts
          .withColumn("z", lit(6))
          .withColumn("x", tileOfPointX(col("px"), lit(6)))
          .withColumn("y", tileOfPointY(col("py"), lit(6)))
        val queries = table(s, dir, "part")
          .where(col("p_partkey") <= 20)
          .select(
            col("p_partkey").as("qid"),
            (lit(e.minX) + lit(e.width) * ((col("p_partkey") * 37 % 1000) / 1000.0)).as("qx"),
            (lit(e.minY) + lit(e.height) * ((col("p_partkey") * 73 % 1000) / 1000.0)).as("qy"))
        graft.engine.SpatialKnn.nearestBatch(queries, assigned, 6, 10, 1)
          .select(col("qid"), col("rnk"), col("image_id").as("id"))
      },
      Some("""WITH pts AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS id,
        |    (-20037508.34 + (20037508.34 - (-20037508.34)) * ((l_orderkey % 1000) / 1000.0)) AS px,
        |    (-20037508.34 + (20037508.34 - (-20037508.34)) * ((l_partkey % 1000) / 1000.0)) AS py
        |  FROM lineitem),
        |a AS (
        |  SELECT id, px, py,
        |    CAST(trunc(((px - (-20037508.34)) * (1::BIGINT << 6)) / (20037508.34 - (-20037508.34))) AS BIGINT) AS x,
        |    (1::BIGINT << 6) - CAST(trunc(((py - (-20037508.34)) * (1::BIGINT << 6)) / (20037508.34 - (-20037508.34))) AS BIGINT) - 1 AS y
        |  FROM pts),
        |q AS (
        |  SELECT p_partkey AS qid,
        |    (-20037508.34 + (20037508.34 - (-20037508.34)) * ((p_partkey * 37 % 1000) / 1000.0)) AS qx,
        |    (-20037508.34 + (20037508.34 - (-20037508.34)) * ((p_partkey * 73 % 1000) / 1000.0)) AS qy
        |  FROM part WHERE p_partkey <= 20),
        |qt AS (
        |  SELECT qid, qx, qy,
        |    CAST(trunc(((qx - (-20037508.34)) * (1::BIGINT << 6)) / (20037508.34 - (-20037508.34))) AS BIGINT) AS qtx,
        |    (1::BIGINT << 6) - CAST(trunc(((qy - (-20037508.34)) * (1::BIGINT << 6)) / (20037508.34 - (-20037508.34))) AS BIGINT) - 1 AS qty
        |  FROM q)
        |SELECT qid,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY (px - qx) * (px - qx) + (py - qy) * (py - qy), id) AS INT) AS rnk,
        |  id
        |FROM qt JOIN a
        |  ON a.x BETWEEN qt.qtx - 1 AND qt.qtx + 1
        | AND a.y BETWEEN qt.qty - 1 AND qt.qty + 1
        |QUALIFY rnk <= 10""".stripMargin)),

    // Sessionization over the events table (30-min gap), the batch
    // contract of the streaming session-window op.
    ("q19_sessionize",
      (s: SparkSession, dir: String) =>
        graft.streaming.StreamOps.sessionize(table(s, dir, "events"))
          .groupBy("user_id")
          .agg(
            max("session_id").as("sessions"),
            count(lit(1)).as("events")),
      Some("""WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id,
        |         sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM t)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS sessions, count(*) AS events
        |FROM s GROUP BY user_id""".stripMargin)),

    // Exact document dedup by content hash (training-data pipeline op).
    ("q20_doc_dedup_exact",
      (s: SparkSession, dir: String) =>
        graft.dedup.Dedup.exact(table(s, dir, "documents"), "doc_id", "text"),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents GROUP BY 1""".stripMargin)),

    // Text analysis: token/char counts, alpha ratio, fingerprint.
    ("q21_doc_stats",
      (s: SparkSession, dir: String) => {
        import graft.text.TextOps
        table(s, dir, "documents").select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).as("tok_cnt"),
          length(col("text")).as("chars"),
          TextOps.alphaRatioE6(col("text")).as("alpha_e6"),
          TextOps.fingerprint(col("text")).as("fp"))
      },
      Some("""SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+')) AS tok_cnt,
        |  length(text) AS chars,
        |  CAST(floor(1000000.0 * len(regexp_extract_all(lower(text), '[a-z]'))
        |       / greatest(length(text), 1)) AS BIGINT) AS alpha_e6,
        |  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp
        |FROM documents""".stripMargin)),

    // Language id by stopword n-gram heuristic.
    ("q22_langid",
      (s: SparkSession, dir: String) =>
        table(s, dir, "documents").select(
          col("doc_id"),
          graft.text.TextOps.langId(col("text")).as("lang_guess")),
      Some(s"""WITH sc AS (
        |  SELECT doc_id,
        |    ${langScoreSql("en")} AS s_en, ${langScoreSql("de")} AS s_de,
        |    ${langScoreSql("fr")} AS s_fr, ${langScoreSql("es")} AS s_es,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
        |  FROM documents),
        |m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM sc)
        |SELECT doc_id,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN s_en = best AND best > 0 THEN 'en'
        |       WHEN s_de = best AND best > 0 THEN 'de'
        |       WHEN s_fr = best AND best > 0 THEN 'fr'
        |       WHEN s_es = best AND best > 0 THEN 'es'
        |       ELSE 'und' END AS lang_guess
        |FROM m""".stripMargin)),

    // Covering meta-tile enumeration (span 2, aligned origins) — the
    // generator relation behind meta-tile seeding
    // (reference __init__.py:253-267 BoundingPyramid.metatilecoords).
    ("q23_metatile_enum",
      (s: SparkSession, dir: String) =>
        enumerateMetatiles(s, BoundingPyramid.fromString(FlagshipSpec), 2),
      Some(metaEnumSql(BoundingPyramid.fromString(FlagshipSpec), 2))),

    // n-gram Jaccard near-dup pairs (2-word shingles, tau = 0.5).
    ("q24_jaccard_pairs",
      (s: SparkSession, dir: String) =>
        graft.dedup.Dedup.jaccardPairs(
          table(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH $ShingleCtes,
        |u AS (SELECT doc_id, unnest(sl) AS s0 FROM sh),
        |ds0 AS (SELECT DISTINCT doc_id,
        |          CAST(('0x' || substr(md5(s0), 1, 8)) AS BIGINT) AS s FROM u),
        |ds AS (SELECT ds0.* FROM ds0
        |       JOIN (SELECT s FROM ds0 GROUP BY s HAVING count(*) <= 1000) r USING (s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id da, b.doc_id db, count(*) AS common
        |  FROM ds a JOIN ds b USING (s) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, common,
        |  CAST(floor(1000000.0 * common / (sa.n + sb.n - common)) AS BIGINT) AS jaccard_e6
        |FROM common
        |JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
        |WHERE 1000000.0 * common / (sa.n + sb.n - common) >= 500000""".stripMargin)),

    // MinHash signatures (k = 16 universal hashes over 32-bit shingle
    // hashes) — the shingle->minhash stage of the LSH pipeline.
    ("q25_minhash_sig",
      (s: SparkSession, dir: String) =>
        graft.dedup.Dedup.minhashSignatures(
          table(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH $ShingleCtes,
        |hs AS (SELECT doc_id,
        |         [CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) for s in sl] AS hl
        |       FROM sh)
        |SELECT doc_id AS id,
        |       ${minhashSigSql(16)}
        |FROM hs""".stripMargin)),

    // MinHash LSH banding candidates (4 bands x 4 rows).
    ("q26_minhash_pairs",
      (s: SparkSession, dir: String) =>
        graft.dedup.Dedup.minhashCandidates(
          graft.dedup.Dedup.minhashSignatures(
            table(s, dir, "documents"), "doc_id", "text")),
      Some {
        val bandKey = (b: Int) =>
          (0 until 4).map(r => s"CAST(s${b * 4 + r} AS VARCHAR)").mkString(" || '-' || ")
        s"""WITH $ShingleCtes,
        |hs AS (SELECT doc_id,
        |         [CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) for s in sl] AS hl
        |       FROM sh),
        |sig AS (SELECT doc_id AS id, ${minhashSigSql(16)} FROM hs),
        |bands0 AS (
        |${(0 until 4).map(b => s"  SELECT id, $b AS band, ${bandKey(b)} AS key FROM sig").mkString("\n  UNION ALL\n")}
        |),
        |kept AS (SELECT band, key FROM bands0 GROUP BY band, key HAVING count(*) <= 1000),
        |bands AS (SELECT bands0.* FROM bands0 JOIN kept USING (band, key))
        |SELECT DISTINCT a.id AS da, b.id AS db
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.key = b.key AND a.id < b.id""".stripMargin
      }),

    // SimHash 60-bit document fingerprint.
    ("q27_simhash",
      (s: SparkSession, dir: String) =>
        graft.dedup.Dedup.simhash(table(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH wx AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |  FROM documents),
        |hx AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM wx)
        |SELECT doc_id AS id,
        |       $simhashTermsSql AS simhash
        |FROM hx GROUP BY doc_id""".stripMargin)),

    // Brute-force cosine top-20 neighbors of vec_id 0.
    ("q28_knn_top20",
      (s: SparkSession, dir: String) =>
        graft.ann.Ann.topK(
          table(s, dir, "embeddings"), "vec_id", "embedding", 0L, 20),
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |q AS (SELECT e AS qv FROM v WHERE vec_id = 0)
        |SELECT vec_id AS id, ${cosE6("e", "qv")} AS sim_e6
        |FROM v CROSS JOIN q
        |WHERE vec_id <> 0
        |ORDER BY sim_e6 DESC, id LIMIT 20""".stripMargin)),

    // LSH-bucketed embedding near-dup pairs (8 random hyperplanes,
    // cosine >= 0.4 verification) — the ANN scale path. nPlanes = 8 is
    // the reproducible default the oracle mirrors (pinned explicitly
    // here anyway); nPlanes = 0 opts into auto-sizing planes from the
    // optimizer's row estimate (Ann.planesForCount).
    ("q29_embed_neardup",
      (s: SparkSession, dir: String) =>
        graft.ann.Ann.nearDupPairs(
          table(s, dir, "embeddings"), "vec_id", "embedding", nPlanes = 8),
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
        |b0 AS (SELECT id, e,
        |       $lshBucketSql AS bucket
        |      FROM v),
        |keptb AS (SELECT bucket FROM b0 GROUP BY bucket HAVING count(*) <= 1000),
        |b AS (SELECT b0.* FROM b0 JOIN keptb USING (bucket))
        |SELECT a.id AS ida, b2.id AS idb, ${cosE6("a.e", "b2.e")} AS sim_e6
        |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
        |WHERE ${cosE6("a.e", "b2.e")} >= 400000""".stripMargin)),

    // IVF coarse quantization (the ANN index-build scale path): every
    // vector assigned to its nearest of 8 deterministic centroids;
    // output is the per-list histogram. At 100 TB the per-list layout
    // is what lets a query probe 1-2 lists instead of the full corpus.
    ("q35_ann_ivf",
      (s: SparkSession, dir: String) =>
        graft.ann.Ann.ivfAssign(
            table(s, dir, "embeddings"), "vec_id", "embedding", ivfCentroids)
          .groupBy("list_id")
          .agg(count(lit(1)).as("cnt"), min("id").as("min_id")),
      Some {
        val dists = ivfCentroids.zipWithIndex.map { case (c, i) =>
          s"(-2.0 * list_dot_product(e, ${planeLiteral(c)}) + ${c.map(x => x * x).sum}) AS d$i"
        }.mkString(",\n       ")
        val m = ivfCentroids.indices.map(i => s"d$i").mkString("least(", ", ", ")")
        val pick = ivfCentroids.indices
          .map(i => s"WHEN d$i = m THEN $i").mkString("CASE ", " ", " END")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |d AS (SELECT vec_id,
        |       $dists
        |      FROM v),
        |a AS (SELECT vec_id, $pick AS list_id FROM (SELECT *, $m AS m FROM d))
        |SELECT list_id, count(*) AS cnt, min(vec_id) AS min_id
        |FROM a GROUP BY list_id""".stripMargin
      }),

    // Connected-component dedup clustering over the MinHash candidate
    // pairs: every doc in a component labeled with its min id.
    ("q32_dedup_clusters",
      (s: SparkSession, dir: String) =>
        graft.dedup.Dedup.clusters(
          graft.dedup.Dedup.minhashCandidates(
            graft.dedup.Dedup.minhashSignatures(
              table(s, dir, "documents"), "doc_id", "text"))),
      Some {
        val bandKey = (b: Int) =>
          (0 until 4).map(r => s"CAST(s${b * 4 + r} AS VARCHAR)").mkString(" || '-' || ")
        s"""WITH RECURSIVE $ShingleCtes,
        |hs AS (SELECT doc_id,
        |         [CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) for s in sl] AS hl
        |       FROM sh),
        |sig AS (SELECT doc_id AS id, ${minhashSigSql(16)} FROM hs),
        |bands0 AS (
        |${(0 until 4).map(b => s"  SELECT id, $b AS band, ${bandKey(b)} AS key FROM sig").mkString("\n  UNION ALL\n")}
        |),
        |kept AS (SELECT band, key FROM bands0 GROUP BY band, key HAVING count(*) <= 1000),
        |bands AS (SELECT bands0.* FROM bands0 JOIN kept USING (band, key)),
        |pairs AS (
        |  SELECT DISTINCT a.id AS da, b.id AS db
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
        |edges AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a""".stripMargin
      }),

    // Multimodal plumbing over the generated corpus. The corpus is
    // fully deterministic (64x64 gradients, jpeg on i%10==7 — Corpus
    // .row), so decoded dimensions and the sniffed content type are
    // pinnable constants, exactly like q43/q45: the oracle re-derives
    // them from the generator's arithmetic; the pixel path itself is
    // covered by ImageSpec.
    ("q30_multimodal_meta",
      (s: SparkSession, dir: String) => {
        val media = graft.engine.Corpus.generate(s, 500).toDF()
          .select(
            col("image_id").as("media_id"), lit("image").as("kind"),
            col("bytes"), map(lit("fmt"), col("fmt")).as("meta"))
        graft.multimodal.Multimodal.imageMeta(media)
      },
      Some("""SELECT printf('img%012d', g.i) AS media_id,
        |  CAST(64 AS INT) AS w, CAST(64 AS INT) AS h,
        |  CASE WHEN g.i % 10 = 7 THEN 'image/jpeg' ELSE 'image/png' END
        |    AS content_type,
        |  CAST(NULL AS VARCHAR) AS error
        |FROM generate_series(0, 499) g(i)""".stripMargin)),

    // Convolution image filter over the generated corpus: every
    // deterministic synthetic image decodes and convolves cleanly, so
    // `filtered_ok = TRUE, error = NULL` is a pinned constant per row
    // (like q37's gzip roundtrip); pixel semantics stay covered by
    // ImageSpec's PSNR checks.
    ("q33_image_filter",
      (s: SparkSession, dir: String) => {
        val tiles = graft.engine.Corpus.generate(s, 500).toDF()
          .select(
            col("image_id"), col("bytes").as("data"),
            when(col("fmt") === "png", "image/png")
              .otherwise("image/jpeg").as("content_type"),
            lit(null).cast("string").as("error"))
        graft.engine.Filters.imageFilter("sharpen")(tiles)
          .select(
            col("image_id"),
            col("data").isNotNull.as("filtered_ok"),
            col("error"))
      },
      Some("""SELECT printf('img%012d', g.i) AS image_id,
        |  TRUE AS filtered_ok, CAST(NULL AS VARCHAR) AS error
        |FROM generate_series(0, 499) g(i)""".stripMargin)),

    // WMTS GetTile KVP URL building as codegen column concat
    // (reference layout/wmts.py:6-63).
    ("q36_wmts_url",
      (s: SparkSession, dir: String) =>
        coords(s, dir)
          .select("z", "x", "y").distinct()
          .select(
            col("z"), col("x"), col("y"),
            TileFunctions.wmtsKvpUrl(
              "http://wmts.example.org/", "lyr", "default", "image/png",
              "webmercator", col("z"), col("x"), col("y")).as("url")),
      Some(s"""WITH $CoordsCte,
        |d AS (SELECT DISTINCT z, x, y FROM coords)
        |SELECT z, x, y,
        |  'http://wmts.example.org/?Service=WMTS&Request=GetTile' ||
        |  '&Format=image/png&Version=1.0.0&Layer=lyr&Style=default' ||
        |  '&TileMatrixSet=webmercator' ||
        |  '&TileMatrix=' || CAST(z AS VARCHAR) ||
        |  '&TileRow=' || CAST(y AS VARCHAR) ||
        |  '&TileCol=' || CAST(x AS VARCHAR) AS url
        |FROM d""".stripMargin)),

    // Gzip compress->decompress round trip over the documents payloads
    // (reference filter/gzip_.py). The oracle pins every roundtrip_ok
    // flag to TRUE: any corrupted byte on either leg hash-mismatches.
    ("q37_gzip_roundtrip",
      (s: SparkSession, dir: String) => {
        val tiles = table(s, dir, "documents").select(
          col("doc_id"), col("text"),
          encode(col("text"), "UTF-8").as("data"),
          lit(null).cast("string").as("content_encoding"))
        val back =
          graft.engine.Filters.gzipDecompress(graft.engine.Filters.gzipCompress(tiles))
        back.select(
          col("doc_id"),
          (col("data") === encode(col("text"), "UTF-8") &&
            col("content_encoding").isNull).as("roundtrip_ok"))
      },
      Some(
        "SELECT doc_id, CAST(TRUE AS BOOLEAN) AS roundtrip_ok FROM documents")),

    // WMS GetMap URL building as codegen column concat (reference
    // layout/wms.py:7-53). The oracle compares the PARSED URL: the
    // non-numeric shape by string equality (floats masked to '#' —
    // pins prefix, param order, URL encoding, WIDTH/HEIGHT) and the
    // four BBOX values numerically after cast back to double. Java's
    // %f is HALF_UP at 6 decimals of the SHORTEST decimal repr
    // (Double.toString) — NOT of the exact binary expansion C printf
    // rounds, which is why a string oracle is infeasible. DuckDB's
    // VARCHAR cast of a double produces the same shortest repr, so
    // decimal-string arithmetic (floor(|d|*1e6 + 0.5), sign restored)
    // reproduces Java bit-for-bit. Verified mismatch-free over 22.8k
    // web-mercator extents across z0-z20.
    ("q38_wms_url",
      (s: SparkSession, dir: String) => {
        val layout = graft.core.WMSTileLayout(
          url = "http://wms.example.org/wms", layers = "roads,water",
          srs = "EPSG:3857", format = "image/png",
          grid = graft.core.TileGrids.Google)
        val fre = "(-?[0-9]+\\.[0-9]{6})"
        val pat = s"BBOX=$fre%2C$fre%2C$fre%2C$fre"
        coords(s, dir)
          .select("z", "x", "y").distinct()
          .select(
            col("z"), col("x"), col("y"),
            TileFunctions.wmsUrl(layout, col("z"), col("x"), col("y")).as("url"))
          .select(
            col("z"), col("x"), col("y"),
            regexp_replace(col("url"), "-?[0-9]+\\.[0-9]{6}", "#").as("url_shape"),
            regexp_extract(col("url"), pat, 1).cast("double").as("bminx"),
            regexp_extract(col("url"), pat, 2).cast("double").as("bminy"),
            regexp_extract(col("url"), pat, 3).cast("double").as("bmaxx"),
            regexp_extract(col("url"), pat, 4).cast("double").as("bmaxy"))
      },
      Some {
        // Java %f = HALF_UP at 6 decimals of the shortest decimal
        // repr: round the VARCHAR rendering in exact DECIMAL space
        def halfUp6(e: String): String =
          s"""((CASE WHEN ($e) < 0 THEN -1 ELSE 1 END)
             | * CAST(CAST(floor(
             |     abs(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,17))) * 1000000 + 0.5
             |   ) AS BIGINT) AS DOUBLE)
             | / 1000000.0)""".stripMargin
        val shape = "http://wms.example.org/wms?LAYERS=roads%2Cwater" +
          "&FORMAT=image%2Fpng&TRANSPARENT=TRUE&SERVICE=WMS&VERSION=1.1.1" +
          "&REQUEST=GetMap&STYLES=&SRS=EPSG%3A3857" +
          "&BBOX=#%2C#%2C#%2C#&WIDTH=256&HEIGHT=256"
        s"""WITH $CoordsCte,
        |d AS (SELECT DISTINCT z, x, y FROM coords),
        |e AS (
        |  SELECT z, x, y,
        |         CAST((1::BIGINT << z) AS DOUBLE) AS scale,
        |         CAST((1::BIGINT << z) - y - 1 AS DOUBLE) AS yy
        |  FROM d),
        |b AS (
        |  SELECT z, x, y,
        |    -20037508.34 + ((20037508.34 - (-20037508.34)) * CAST(x AS DOUBLE)) / scale AS rminx,
        |    -20037508.34 + ((20037508.34 - (-20037508.34)) * yy) / scale AS rminy,
        |    -20037508.34 + ((20037508.34 - (-20037508.34)) * CAST(x + 1 AS DOUBLE)) / scale AS rmaxx,
        |    -20037508.34 + ((20037508.34 - (-20037508.34)) * (yy + 1)) / scale AS rmaxy
        |  FROM e)
        |SELECT z, x, y,
        |  '$shape' AS url_shape,
        |  ${halfUp6("rminx")} AS bminx,
        |  ${halfUp6("rminy")} AS bminy,
        |  ${halfUp6("rmaxx")} AS bmaxx,
        |  ${halfUp6("rmaxy")} AS bmaxy
        |FROM b""".stripMargin
      }),

    // FreeTileGrid (resolution-list pyramid) point->tile assignment as
    // pure column math (reference grid/free.py:96-112) over a
    // swiss-grid-like CRS; per-tile counts.
    ("q39_free_assign",
      (s: SparkSession, dir: String) => {
        val grid = graft.core.FreeTileGrid(
          resolutions = IndexedSeq(750.0, 20.0, 10.0, 5.0),
          maxExtent = graft.core.Extent(420000.0, 30000.0, 900000.0, 350000.0),
          tileSize = 100.0)
        table(s, dir, "lineitem")
          .select(
            (col("l_linenumber") % 4).cast("int").as("z"),
            (lit(grid.maxExtent.minX) +
              lit(grid.maxExtent.width) * ((col("l_orderkey") % 1000) / 1000.0)).as("px"),
            (lit(grid.maxExtent.minY) +
              lit(grid.maxExtent.height) * ((col("l_partkey") % 1000) / 1000.0)).as("py"))
          .select(
            col("z"),
            TileFunctions.freeTileOfPointX(col("px"), col("z"), grid).as("tx"),
            TileFunctions.freeTileOfPointY(col("py"), col("z"), grid).as("ty"))
          .groupBy("z", "tx", "ty")
          .agg(count(lit(1)).as("cnt"))
      },
      Some("""WITH pts AS (
        |  SELECT CAST(l_linenumber % 4 AS INT) AS z,
        |    (420000.0 + (900000.0 - 420000.0) * ((l_orderkey % 1000) / 1000.0)) AS px,
        |    (30000.0 + (350000.0 - 30000.0) * ((l_partkey % 1000) / 1000.0)) AS py
        |  FROM lineitem),
        |a AS (
        |  SELECT z,
        |    CAST(floor(1.0 * (px - 420000.0) / (([750.0,20.0,10.0,5.0][z+1]) * 100.0)) AS BIGINT) AS tx,
        |    CAST(floor(1.0 * (350000.0 - 30000.0) / (100.0 * ([750.0,20.0,10.0,5.0][z+1]))
        |         - 1.0 * (py - 30000.0) / (([750.0,20.0,10.0,5.0][z+1]) * 100.0)) AS BIGINT) AS ty
        |  FROM pts)
        |SELECT z, tx, ty, count(*) AS cnt FROM a GROUP BY 1, 2, 3""".stripMargin)),

    // Data-dependent quadtree subdivision (reference
    // store/renderingtheworld.py:8-46) over an md5-derived phash corpus
    // from lineitem keys, so the BFS rollup + leaf rule has a full
    // DuckDB oracle (static per-level CTE ladder, maxZ = 6).
    ("q31_rendering_world",
      (s: SparkSession, dir: String) =>
        graft.engine.Pipeline.renderingTheWorld(
          table(s, dir, "lineitem").select(
            // kernel md5 slice — bit-identical to conv(substring(md5))
            graft.dedup.Dedup.hash60(
              concat_ws("-", col("l_orderkey"), col("l_linenumber")))
              .as("phash")),
          maxPerTile = 50,
          maxZ = 6),
      Some {
        val e = 20037508.34
        val rollups = (5 to 0 by -1).map { z =>
          s"c$z AS (SELECT CAST($z AS INT) AS z, x // 2 AS x, y // 2 AS y, CAST(sum(cnt) AS BIGINT) AS cnt FROM c${z + 1} GROUP BY 1, 2, 3)"
        }.mkString(",\n")
        val leafLevels = (6 to 1 by -1).map { z =>
          val cond = if (z == 6) "" else s" WHERE c.cnt <= 50"
          s"""SELECT c.z, c.x, c.y, c.cnt FROM c$z c
             |JOIN c${z - 1} p ON p.x = c.x // 2 AND p.y = c.y // 2 AND p.cnt > 50$cond""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH pts AS (
        |  SELECT CAST(('0x' || substr(md5(l_orderkey || '-' || l_linenumber), 1, 15)) AS BIGINT) AS phash
        |  FROM lineitem),
        |xy AS (
        |  SELECT (-$e + ($e - (-$e)) * ((phash & 1073741823) / 1073741824.0)) AS px,
        |         (-$e + ($e - (-$e)) * (((phash >> 30) & 1073741823) / 1073741824.0)) AS py
        |  FROM pts),
        |c6 AS (
        |  SELECT CAST(6 AS INT) AS z, tx AS x, (1::BIGINT << 6) - ty0 - 1 AS y, count(*) AS cnt
        |  FROM (SELECT
        |    CAST(trunc(((px - (-$e)) * (1::BIGINT << 6)) / ($e - (-$e))) AS BIGINT) AS tx,
        |    CAST(trunc(((py - (-$e)) * (1::BIGINT << 6)) / ($e - (-$e))) AS BIGINT) AS ty0
        |    FROM xy)
        |  GROUP BY 1, 2, 3),
        |$rollups
        |$leafLevels
        |UNION ALL
        |SELECT z, x, y, cnt FROM c0 WHERE cnt <= 50""".stripMargin
      }),

    // Mask bitmap round-trip (reference store/mask.py:17-73): presence
    // set at one zoom -> per-row bitset -> back to coords; the oracle
    // pins exact set equality within the window.
    ("q40_mask_roundtrip",
      (s: SparkSession, dir: String) => {
        val tiles = coords(s, dir).select("z", "x", "y").distinct()
        graft.engine.Stores.fromMask(
          graft.engine.Stores.toMask(tiles, 7, 0L, 128), 7, 0L)
      },
      Some(s"""WITH $CoordsCte
        |SELECT DISTINCT CAST(7 AS INT) AS z, x, y
        |FROM coords WHERE z = 7 AND x >= 0 AND x < 128""".stripMargin)),

    // SimHash banded near-dup pairs (15-bit bands, hamming <= 3,
    // hot buckets capped at 1000 — the cap is part of the contract).
    ("q41_simhash_pairs",
      (s: SparkSession, dir: String) =>
        graft.dedup.Dedup.simhashPairs(
          graft.dedup.Dedup.simhash(table(s, dir, "documents"), "doc_id", "text"),
          maxHamming = 3,
          maxBucketSize = 1000L),
      Some(s"""WITH wx AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |  FROM documents),
        |hx AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM wx),
        |sig AS (SELECT doc_id AS id,
        |        $simhashTermsSql AS simhash
        |        FROM hx GROUP BY doc_id),
        |bands0 AS (
        |  SELECT id, simhash, b.band, (simhash >> (b.band * 15)) & 32767 AS key
        |  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) b(band)),
        |kept AS (SELECT band, key FROM bands0 GROUP BY band, key HAVING count(*) <= 1000),
        |bands AS (SELECT bands0.* FROM bands0 JOIN kept USING (band, key)),
        |p AS (
        |  SELECT DISTINCT a.id AS da, b.id AS db,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS dist
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
        |SELECT da, db, dist FROM p WHERE dist <= 3""".stripMargin)),

    // REAL audio metadata over synthesized WAVs (javax.sound.sampled
    // header parse — no external codec): the oracle pins the exact
    // duration/rate/channels each deterministic WAV was written with.
    ("q43_audio_meta",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val media = s.range(200)
          .map(i => (f"aud$i%06d", graft.multimodal.Multimodal.synthWav(100L + (i % 10) * 50L)))
          .toDF("media_id", "bytes")
        graft.multimodal.Multimodal.audioMeta(media)
          .select("media_id", "duration_ms", "sample_rate", "channels")
      },
      Some("""SELECT printf('aud%06d', g.i) AS media_id,
        |  CAST(100 + (g.i % 10) * 50 AS BIGINT) AS duration_ms,
        |  CAST(16000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels
        |FROM generate_series(0, 199) g(i)""".stripMargin)),

    // SearchUp over a FreeTileGrid (reference store/searchup.py walks
    // grid.parent for ANY grid): the ancestor chain is the resolution
    // ladder's divisor chain, mirrored literally in the oracle.
    ("q44_searchup_free",
      (s: SparkSession, dir: String) => {
        val grid = graft.core.FreeTileGrid(
          resolutions = IndexedSeq(100.0, 2.0, 1.0, 0.5),
          maxExtent = graft.core.Extent(0.0, 0.0, 1000000.0, 1000000.0),
          tileSize = 256.0)
        val c = table(s, dir, "lineitem").select(
          (col("l_linenumber") % 4).cast("int").as("z"),
          pmod(col("l_orderkey"), lit(500L)).as("x"),
          pmod(col("l_partkey"), lit(500L)).as("y"),
          col("l_returnflag").as("flag"))
        val store = c.where(col("flag") === "R")
          .groupBy("z", "x", "y").agg(count(lit(1)).as("data"))
        val targets = c.where(col("flag") === "A").select("z", "x", "y").distinct()
        graft.engine.Stores.searchUp(targets, store, grid)
      },
      Some("""WITH c AS (
        |  SELECT CAST(l_linenumber % 4 AS INT) AS z,
        |         l_orderkey % 500 AS x, l_partkey % 500 AS y,
        |         l_returnflag AS flag
        |  FROM lineitem),
        |store AS (SELECT z, x, y, count(*) AS data FROM c WHERE flag = 'R' GROUP BY 1, 2, 3),
        |targets AS (SELECT DISTINCT z, x, y FROM c WHERE flag = 'A'),
        |chains(z, d, az, factor) AS (
        |  VALUES (3, 0, 3, 1), (3, 1, 2, 2), (3, 2, 1, 4), (3, 3, 0, 200),
        |         (2, 0, 2, 1), (2, 1, 1, 2), (2, 2, 0, 100),
        |         (1, 0, 1, 1), (1, 1, 0, 50),
        |         (0, 0, 0, 1)),
        |hits AS (
        |  SELECT t.z, t.x, t.y, ch.d, s.data
        |  FROM targets t
        |  JOIN chains ch ON ch.z = t.z
        |  JOIN store s ON s.z = ch.az AND s.x = t.x // ch.factor AND s.y = t.y // ch.factor),
        |best AS (
        |  SELECT z, x, y, min(d) AS d FROM hits GROUP BY 1, 2, 3)
        |SELECT b.z, b.x, b.y, h.data, CAST(b.d AS INT) AS d
        |FROM best b JOIN hits h ON h.z = b.z AND h.x = b.x AND h.y = b.y AND h.d = b.d""".stripMargin)),

    // REAL video (MP4) container metadata over synthesized clips: the
    // oracle pins each deterministic clip's duration (mvhd timescale
    // math) and frame count (stsz) — container parse is real, only
    // pixel decode has no in-JVM codec.
    ("q45_video_meta",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val media = s.range(100)
          .map(i => (f"vid$i%06d",
            graft.multimodal.Multimodal.synthMp4((10 + (i % 7) * 3).toInt)))
          .toDF("media_id", "bytes")
        graft.multimodal.Multimodal.videoMeta(media)
          .select("media_id", "duration_ms", "timescale", "frame_count")
      },
      Some("""SELECT printf('vid%06d', g.i) AS media_id,
        |  ((10 + (g.i % 7) * 3) * 20 * 1000) // 600 AS duration_ms,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST(10 + (g.i % 7) * 3 AS INT) AS frame_count
        |FROM generate_series(0, 99) g(i)""".stripMargin)),

    // Drop-exact-duplicates as a row filter (keep min doc_id per
    // content hash) — the keep-side complement of q20.
    ("q42_drop_exact_dups",
      (s: SparkSession, dir: String) =>
        graft.dedup.Dedup.dropExactDuplicates(
          table(s, dir, "documents"), "doc_id", "text")
          .select("doc_id", "n_chars"),
      Some("""SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin)),

    // IVF SEARCH (the probe half of the ANN index; q35 is the build
    // half): top-20 cosine among vectors in the query's 2 nearest
    // coarse lists. Probe-list selection is column math inside the
    // broadcast query row — no driver collect.
    ("q46_ivf_search",
      (s: SparkSession, dir: String) =>
        graft.ann.Ann.ivfSearch(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          ivfCentroids, queryId = 0L, k = 20, nprobe = 2),
      Some {
        val dists = ivfCentroids.zipWithIndex.map { case (c, i) =>
          s"(-2.0 * list_dot_product(e, ${planeLiteral(c)}) + ${c.map(x => x * x).sum}) AS d$i"
        }.mkString(",\n       ")
        val m = ivfCentroids.indices.map(i => s"d$i").mkString("least(", ", ", ")")
        val pick = ivfCentroids.indices
          .map(i => s"WHEN d$i = m THEN $i").mkString("CASE ", " ", " END")
        val qdist = ivfCentroids.zipWithIndex.map { case (c, i) =>
          s"SELECT $i AS list_id, (-2.0 * list_dot_product(qv, ${planeLiteral(c)}) + ${c.map(x => x * x).sum}) AS d2 FROM q"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |d AS (SELECT vec_id,
        |       $dists
        |      FROM v),
        |a AS (SELECT vec_id, $pick AS list_id FROM (SELECT *, $m AS m FROM d)),
        |q AS (SELECT e AS qv FROM v WHERE vec_id = 0),
        |qdist AS (
        |  $qdist),
        |probe AS (SELECT list_id FROM qdist ORDER BY d2, list_id LIMIT 2)
        |SELECT a.vec_id AS id, a.list_id, ${cosE6("v.e", "q.qv")} AS sim_e6
        |FROM a JOIN v USING (vec_id) CROSS JOIN q
        |WHERE a.list_id IN (SELECT list_id FROM probe) AND a.vec_id <> 0
        |ORDER BY sim_e6 DESC, id LIMIT 20""".stripMargin
      }),

    // REAL MP4 frame sampling across container dialects: every 30th
    // frame's TRUE byte range from stsz + stco/co64 + stsc. Variant 2
    // uses three NON-CONTIGUOUS chunks (7 filler bytes between), so the
    // pinned offsets prove the stsc run-length mapping — a parser that
    // naively accumulates sizes from chunk 0 lands in the gap.
    ("q47_mp4_frames",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val media = s.range(60)
          .map { i =>
            val bytes = (i % 3) match {
              case 0 => graft.multimodal.Multimodal.synthMp4(90, frameSize = 100)
              case 1 => graft.multimodal.Multimodal.synthMp4(
                90, frameSize = 100, mvhdVersion = 1, co64 = true)
              case _ => graft.multimodal.Multimodal.synthMp4(
                90, frameSize = 100, nChunks = 3, chunkGap = 7)
            }
            (f"vid$i%06d", bytes)
          }
          .toDF("media_id", "bytes")
        graft.multimodal.Multimodal.mp4FrameSample(media, everyK = 30)
          .select("media_id", "frame_idx", "offset", "length")
      },
      // single chunk (variants 0, 1): frames pack from mdat payload
      // offset 24, so frame f starts at 24 + 100f. Three gapped chunks
      // (variant 2, 30 frames each): frame 0/30/60 is each chunk's
      // first sample, chunk c starts at 24 + c * (30*100 + 7).
      Some("""SELECT printf('vid%06d', v.i) AS media_id,
        |  CAST(f.j AS INT) AS frame_idx,
        |  CAST(CASE WHEN v.i % 3 = 2 THEN 24 + (f.j // 30) * 3007
        |            ELSE 24 + f.j * 100 END AS BIGINT) AS offset,
        |  CAST(100 AS INT) AS length
        |FROM generate_series(0, 59) v(i)
        |CROSS JOIN (VALUES (0), (30), (60)) f(j)""".stripMargin)),

    // BERKELEY DB BTREE ROUNDTRIP (reference store/bsddb.py keys
    // `str(tilecoord)`): deterministic payloads travel through a REAL
    // bdb btree archive — encode on the driver, decode executor-side —
    // and the oracle regenerates the same payloads directly, so any
    // byte lost or reordered by the file format breaks the hash. Rep
    // counts up to 300 push ~half the values past the 1 KB overflow
    // threshold (chained overflow pages on the wire).
    ("q48_bsddb_roundtrip",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val tiles = for {
          z <- 2 to 3
          x <- 0L until (1L << z)
          y <- 0L until (1L << z)
        } yield {
          val rep = (1 + (x + y + z) % 300).toInt
          (s"$z/$x/$y".getBytes("UTF-8"),
            (s"tile-$z/$x/$y-" * rep).getBytes("UTF-8"))
        }
        val archive = graft.sources.Bsddb.encode(tiles)
        s.createDataset(Seq(archive)).flatMap { bytes =>
          graft.sources.Bsddb.decode(bytes).map { case (k, v) =>
            val Array(z, x, y) = new String(k, "UTF-8").split("/")
            (z.toInt, x.toLong, y.toLong, v)
          }
        }.toDF("z", "x", "y", "data")
          .select(
            col("z"), col("x"), col("y"),
            length(col("data")).cast("int").as("n_bytes"),
            md5(col("data")).as("payload_md5"))
          .orderBy("z", "x", "y")
      },
      Some("""SELECT z, x, y,
        |  CAST(length(payload) AS INT) AS n_bytes,
        |  md5(payload) AS payload_md5
        |FROM (
        |  SELECT z, x, y,
        |    repeat('tile-' || z || '/' || x || '/' || y || '-',
        |           CAST(1 + (x + y + z) % 300 AS INT)) AS payload
        |  FROM (SELECT CAST(2 AS INT) AS z, gx.x, gy.y
        |        FROM generate_series(0, 3) gx(x)
        |        CROSS JOIN generate_series(0, 3) gy(y)
        |        UNION ALL
        |        SELECT CAST(3 AS INT), gx.x, gy.y
        |        FROM generate_series(0, 7) gx(x)
        |        CROSS JOIN generate_series(0, 7) gy(y)))
        |ORDER BY z, x, y""".stripMargin)),

    // Perceptual-hash image near-dup: the corpus plants a JPEG
    // re-encode of every 5th photo-like image under a `dup` id; the
    // engine must recover exactly those pairs FROM PIXELS (decode →
    // DCT pHash → hamming-banded self-join), with zero false positives
    // across the 400 distinct base images. The oracle is the planted
    // ground truth — id arithmetic only, no image math in DuckDB —
    // which checks both recall (re-encode stays within hamming 7) and
    // precision (distinct photos stay outside it).
    ("q49_phash_neardup",
      (s: SparkSession, dir: String) => {
        val media = graft.engine.Corpus.generateNearDupMedia(s, 400).toDF()
        val hashes = graft.multimodal.Multimodal.imagePhash(media)
          .where(col("error").isNull)
        graft.dedup.Dedup.phashPairs(hashes)
          .select(col("da"), col("db"))
          .orderBy("da")
      },
      Some("""SELECT printf('dup%012d', g.i) AS da,
        |  printf('img%012d', g.i) AS db
        |FROM generate_series(0, 399) g(i)
        |WHERE g.i % 5 = 2
        |ORDER BY da""".stripMargin)),

    // Product quantization + ADC search (the compression half of
    // IVF-PQ): 4 subspaces x 16 sampled centroids (rows vec_id < 16 —
    // deterministic and oracle-replicable), encode every embedding to
    // 4 codes, then approximate top-10 for the vec_id=0 query via the
    // broadcast lookup table. Distance arithmetic is elementwise
    // squared L2 in ascending dimension order on BOTH sides (see
    // Ann.sliceDist2), argmin ties break to the lowest centroid id,
    // and the oracle sums LUT terms in subspace order via
    // list_sum(list(d ORDER BY m)) to mirror Spark's fold.
    ("q50_pq_adc",
      (s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val books = graft.ann.Ann.samplePqCodebooks(emb, "vec_id", "embedding")
        val query = emb.where(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray
        graft.ann.Ann.pqAdcSearch(
          graft.ann.Ann.pqEncode(emb, "vec_id", "embedding", books),
          books, query, 10)
          .select(
            col("id").as("vec_id"),
            floor(col("adc") * lit(1e6)).cast("long").as("adc_e6"))
      },
      Some("""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), book AS (
        |  SELECT m.m, e.vec_id AS j, e.v[m.m*16+1 : m.m*16+16] AS c
        |  FROM emb e, (SELECT unnest([0,1,2,3]) AS m) m
        |  WHERE e.vec_id < 16
        |), codes AS (
        |  SELECT vec_id, m, j
        |  FROM (
        |    SELECT e.vec_id, b.m, b.j,
        |      list_sum([(e.v[b.m*16+i] - b.c[i]) * (e.v[b.m*16+i] - b.c[i])
        |                for i in generate_series(1,16)]) AS d2
        |    FROM emb e CROSS JOIN book b)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) = 1
        |), lut AS (
        |  SELECT b.m, b.j,
        |    list_sum([(q.v[b.m*16+i] - b.c[i]) * (q.v[b.m*16+i] - b.c[i])
        |              for i in generate_series(1,16)]) AS d
        |  FROM book b, (SELECT v FROM emb WHERE vec_id = 0) q
        |), adc AS (
        |  SELECT c.vec_id, list_sum(list(l.d ORDER BY c.m)) AS adc
        |  FROM codes c JOIN lut l ON c.m = l.m AND c.j = l.j
        |  GROUP BY c.vec_id
        |)
        |SELECT vec_id, CAST(floor(adc * 1e6) AS BIGINT) AS adc_e6
        |FROM adc ORDER BY adc, vec_id LIMIT 10""".stripMargin)),

    // Deterministic stratified sampling (corpus mixing): keep a doc iff
    // md5-hash-of-id mod 1e6 clears the language's e6 rate — downsample
    // dominant en 4x, zh ~2x, keep the rest. Hash keyed on the row id
    // (not rand()), so the sample is reproducible and monotone in the
    // rate; pure codegen filter at the scan, no shuffle.
    ("q51_stratified_sample",
      (s: SparkSession, dir: String) =>
        table(s, dir, "documents")
          .where(graft.text.CorpusOps.stratifiedSampleE6(
            col("doc_id"), col("lang"),
            Map("en" -> 250000L, "zh" -> 600000L), defaultE6 = 1000000L))
          .select("doc_id", "lang"),
      Some("""SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |        % 1000000
        |  < CASE lang WHEN 'en' THEN 250000 WHEN 'zh' THEN 600000
        |    ELSE 1000000 END""".stripMargin)),

    // Sliding token-window chunking (context-length splitting): windows
    // of 32 words every 24; a doc of n words yields
    // 1 + ceil(max(n-32,0)/24) chunks, the last possibly short. Oracle
    // explodes via the constant-bound generate_series + filter pattern
    // (DuckDB can't take lateral args in generate_series).
    ("q52_token_chunks",
      (s: SparkSession, dir: String) =>
        graft.text.CorpusOps.chunkByTokens(
          table(s, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id"),
      Some("""WITH w AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, ws,
        |    1 + ((greatest(len(ws) - 32, 0) + 23) // 24) AS nc
        |  FROM w)
        |SELECT doc_id, CAST(g.i AS INT) AS chunk_idx,
        |  array_to_string(ws[g.i*24+1 : g.i*24+32], ' ') AS chunk_text,
        |  CAST(len(ws[g.i*24+1 : g.i*24+32]) AS INT) AS n_tokens
        |FROM n CROSS JOIN generate_series(0, 63) g(i)
        |WHERE g.i < nc""".stripMargin)),

    // OGC GeoPackage interchange: deterministic payloads through a real
    // .gpkg archive (pure-JVM SQLite codec, GPKG stamps + gpkg_* meta
    // tables, top-left tile_row — no TMS flip) and back; the oracle
    // recomputes the payload md5s from the generator arithmetic.
    // Cross-validation that the archives satisfy REAL SQLite lives in
    // GeoPackageSpec (integrity_check + pragma stamps via CPython).
    ("q53_gpkg_roundtrip",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val tiles = for {
          z <- 2 to 3
          x <- 0L until (1L << z)
          y <- 0L until (1L << z)
        } yield {
          val rep = (1 + (x * 5 + y * 3 + z) % 200).toInt
          (z.toLong, x, y, (s"gpkg-$z/$x/$y-" * rep).getBytes("UTF-8"))
        }
        val archive = graft.sources.GeoPackage.encode(
          tiles.iterator, "tiles", minZ = 2, maxZ = 3)
        s.createDataset(Seq(archive)).flatMap { bytes =>
          graft.sources.GeoPackage.decode(bytes).map {
            case (z, x, row, data) => (z, x, row, data)
          }
        }.toDF("z", "x", "y", "data")
          .select(
            col("z"), col("x"), col("y"),
            length(col("data")).cast("int").as("n_bytes"),
            md5(col("data")).as("payload_md5"))
          .orderBy("z", "x", "y")
      },
      Some("""SELECT z, x, y,
        |  CAST(length(payload) AS INT) AS n_bytes,
        |  md5(payload) AS payload_md5
        |FROM (
        |  SELECT z, x, y,
        |    repeat('gpkg-' || z || '/' || x || '/' || y || '-',
        |           CAST(1 + (x * 5 + y * 3 + z) % 200 AS INT)) AS payload
        |  FROM (SELECT CAST(2 AS INT) AS z, gx.x, gy.y
        |        FROM generate_series(0, 3) gx(x)
        |        CROSS JOIN generate_series(0, 3) gy(y)
        |        UNION ALL
        |        SELECT CAST(3 AS INT), gx.x, gy.y
        |        FROM generate_series(0, 7) gx(x)
        |        CROSS JOIN generate_series(0, 7) gy(y)))
        |ORDER BY z, x, y""".stripMargin)),

    // Greedy sequence packing (sample packing): documents concatenate
    // in id order into <=256-token packs. Packing is sequential, so the
    // oracle walks the same greedy recurrence as a recursive CTE; the
    // Spark op parallelizes by SHARDING (per-partition packs with the
    // partition id embedded in pack_id) — one partition here so both
    // sides walk the identical sequence.
    ("q54_pack_sequences",
      (s: SparkSession, dir: String) => {
        val docs = table(s, dir, "documents")
          .select(
            col("doc_id"),
            graft.text.TextOps.tokenCount(col("text")).as("t"))
        graft.text.CorpusOps.packGreedy(docs.coalesce(1), "doc_id", "t", 256L)
          .select(
            col("id").as("doc_id"), col("pack_id"),
            col("pack_pos"), col("n_tokens"))
      },
      Some("""WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS t,
        |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT rn, doc_id, t, CAST(0 AS BIGINT) AS pack_id,
        |    CAST(0 AS INT) AS pack_pos, t AS acc
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.rn, d.doc_id, d.t,
        |    CAST(CASE WHEN p.acc + d.t > 256 THEN p.pack_id + 1
        |         ELSE p.pack_id END AS BIGINT),
        |    CAST(CASE WHEN p.acc + d.t > 256 THEN 0
        |         ELSE p.pack_pos + 1 END AS INT),
        |    CASE WHEN p.acc + d.t > 256 THEN d.t ELSE p.acc + d.t END
        |  FROM d JOIN p ON d.rn = p.rn + 1)
        |SELECT doc_id, pack_id, pack_pos, t AS n_tokens FROM p""".stripMargin)),

    // End-to-end corpus build: mix (en 50%, zh 80%, rest full) -> exact
    // dedup -> alpha-ratio quality gate -> 32/24 chunking -> 256-token
    // packing, one partition so the oracle's recursive packing CTE
    // walks the identical sequence. The oracle is the composition of
    // the q51/q42/q21/q52/q54 oracle fragments — every stage of the
    // pipeline is value-checked END TO END, not just per-op.
    ("q55_corpus_build",
      (s: SparkSession, dir: String) =>
        graft.text.CorpusOps.buildCorpus(
          table(s, dir, "documents"),
          Map("en" -> 500000L, "zh" -> 800000L), defaultE6 = 1000000L,
          minAlphaE6 = 820000L, packShards = 1)
          .select(
            col("doc_id"), col("chunk_idx"), col("pack_id"),
            col("pack_pos"), col("n_tokens")),
      Some("""WITH RECURSIVE sampled AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |          % 1000000
        |    < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 800000
        |      ELSE 1000000 END),
        |kept AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM sampled) WHERE rn = 1),
        |q AS (
        |  SELECT doc_id, text FROM kept
        |  WHERE CAST(floor(1000000.0 * len(regexp_extract_all(lower(text), '[a-z]'))
        |        / greatest(length(text), 1)) AS BIGINT) >= 820000),
        |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM q),
        |n AS (SELECT doc_id, ws,
        |        1 + ((greatest(len(ws) - 32, 0) + 23) // 24) AS nc FROM w),
        |chunks AS (
        |  SELECT doc_id, CAST(g.i AS INT) AS chunk_idx,
        |    CAST(len(ws[g.i*24+1 : g.i*24+32]) AS BIGINT) AS t
        |  FROM n CROSS JOIN generate_series(0, 63) g(i)
        |  WHERE g.i < nc),
        |o AS (
        |  SELECT doc_id, chunk_idx, t,
        |    ROW_NUMBER() OVER (ORDER BY doc_id, chunk_idx) AS rn
        |  FROM chunks),
        |p AS (
        |  SELECT rn, doc_id, chunk_idx, t, CAST(0 AS BIGINT) AS pack_id,
        |    CAST(0 AS INT) AS pack_pos, t AS acc
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.doc_id, o.chunk_idx, o.t,
        |    CAST(CASE WHEN p.acc + o.t > 256 THEN p.pack_id + 1
        |         ELSE p.pack_id END AS BIGINT),
        |    CAST(CASE WHEN p.acc + o.t > 256 THEN 0
        |         ELSE p.pack_pos + 1 END AS INT),
        |    CASE WHEN p.acc + o.t > 256 THEN o.t ELSE p.acc + o.t END
        |  FROM o JOIN p ON o.rn = p.rn + 1)
        |SELECT doc_id, chunk_idx, pack_id, pack_pos, t AS n_tokens
        |FROM p""".stripMargin)),

    // Full IVF-PQ search: coarse-quantizer probe (q46's fragment)
    // routing into PQ-ADC scoring (q50's fragment) — the production
    // ANN layout end to end, value-checked as a composition like q55.
    ("q56_ivfpq_search",
      (s: SparkSession, dir: String) => {
        val emb = table(s, dir, "embeddings")
        val books = graft.ann.Ann.samplePqCodebooks(emb, "vec_id", "embedding")
        graft.ann.Ann.ivfPqSearch(
          emb, "vec_id", "embedding", ivfCentroids, books,
          queryId = 0L, k = 10, nprobe = 3)
          .select(
            col("id").as("vec_id"), col("list_id"),
            floor(col("adc") * lit(1e6)).cast("long").as("adc_e6"))
      },
      Some {
        val dists = ivfCentroids.zipWithIndex.map { case (c, i) =>
          s"(-2.0 * list_dot_product(v, ${planeLiteral(c)}) + ${c.map(x => x * x).sum}) AS d$i"
        }.mkString(",\n       ")
        val m = ivfCentroids.indices.map(i => s"d$i").mkString("least(", ", ", ")")
        val pick = ivfCentroids.indices
          .map(i => s"WHEN d$i = m THEN $i").mkString("CASE ", " ", " END")
        val qdist = ivfCentroids.zipWithIndex.map { case (c, i) =>
          s"SELECT $i AS list_id, (-2.0 * list_dot_product(qv, ${planeLiteral(c)}) + ${c.map(x => x * x).sum}) AS d2 FROM q"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT vec_id, $dists FROM emb),
        |a AS (SELECT vec_id, $pick AS list_id FROM (SELECT *, $m AS m FROM d)),
        |q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
        |qdist AS (
        |  $qdist),
        |probe AS (SELECT list_id FROM qdist ORDER BY d2, list_id LIMIT 3),
        |book AS (
        |  SELECT m.m, e.vec_id AS j, e.v[m.m*16+1 : m.m*16+16] AS c
        |  FROM emb e, (SELECT unnest([0,1,2,3]) AS m) m
        |  WHERE e.vec_id < 16),
        |codes AS (
        |  SELECT vec_id, m, j
        |  FROM (
        |    SELECT e.vec_id, b.m, b.j,
        |      list_sum([(e.v[b.m*16+i] - b.c[i]) * (e.v[b.m*16+i] - b.c[i])
        |                for i in generate_series(1,16)]) AS d2
        |    FROM emb e CROSS JOIN book b)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) = 1),
        |lut AS (
        |  SELECT b.m, b.j,
        |    list_sum([(q.qv[b.m*16+i] - b.c[i]) * (q.qv[b.m*16+i] - b.c[i])
        |              for i in generate_series(1,16)]) AS d
        |  FROM book b, q),
        |adc AS (
        |  SELECT c.vec_id, list_sum(list(l.d ORDER BY c.m)) AS adc
        |  FROM codes c JOIN lut l ON c.m = l.m AND c.j = l.j
        |  GROUP BY c.vec_id)
        |SELECT adc.vec_id, a.list_id,
        |  CAST(floor(adc.adc * 1e6) AS BIGINT) AS adc_e6
        |FROM adc JOIN a USING (vec_id)
        |WHERE a.list_id IN (SELECT list_id FROM probe) AND adc.vec_id <> 0
        |ORDER BY adc.adc, adc.vec_id LIMIT 10""".stripMargin
      }),

    // Image near-dup clustering end to end: pixels -> pHash -> banded
    // hamming pairs -> connected components with min-id labels (the
    // string-keyed distributed branch of Dedup.clusters). Ground truth:
    // each planted group {dupNNN, imgNNN} clusters under its dup id
    // (the lexicographic minimum).
    ("q57_phash_clusters",
      (s: SparkSession, dir: String) => {
        val media = graft.engine.Corpus.generateNearDupMedia(s, 400).toDF()
        // materialize the hashes once: the pair self-join (2 sides when
        // AQE broadcasts one) and the clustering loop would otherwise
        // re-run the decode+DCT pipeline per consumer — localCheckpoint
        // truncates to the materialized 16-byte hash rows, no cache pin
        val hashes = graft.multimodal.Multimodal.imagePhash(media)
          .where(col("error").isNull)
          .localCheckpoint()
        graft.dedup.Dedup.clusters(graft.dedup.Dedup.phashPairs(hashes))
          .orderBy("id")
      },
      Some("""SELECT printf('dup%012d', g.i) AS id,
        |  printf('dup%012d', g.i) AS cluster_id
        |FROM generate_series(0, 399) g(i) WHERE g.i % 5 = 2
        |UNION ALL
        |SELECT printf('img%012d', g.i) AS id,
        |  printf('dup%012d', g.i) AS cluster_id
        |FROM generate_series(0, 399) g(i) WHERE g.i % 5 = 2
        |ORDER BY id""".stripMargin)),

    // Difference-hash near-dup: same planted ground truth as q49
    // recovered by the DCT-free dHash (9x8 luma gradient signs) through
    // the identical banded-pair machinery — the cheap scale path when
    // DCT per image is the bottleneck. dHash's separation margin is
    // thinner than pHash's (probe at n=400: intra <= 2, inter >= 7 with
    // collisions AT 7), so its threshold is 4 — inside the gap, five
    // 12-bit bands.
    ("q59_dhash_neardup",
      (s: SparkSession, dir: String) => {
        val media = graft.engine.Corpus.generateNearDupMedia(s, 400).toDF()
        val hashes = graft.multimodal.Multimodal.imageHash64(media, "dhash")
          .where(col("error").isNull)
        graft.dedup.Dedup.phashPairs(hashes, maxHamming = 4)
          .select(col("da"), col("db"))
          .orderBy("da")
      },
      Some("""SELECT printf('dup%012d', g.i) AS da,
        |  printf('img%012d', g.i) AS db
        |FROM generate_series(0, 399) g(i)
        |WHERE g.i % 5 = 2
        |ORDER BY da""".stripMargin)),

    // BPE tokenization: the 8 merges below were LEARNED by Bpe.train on
    // this corpus (deterministic; BpeSpec pins the training), then
    // applied as a pure-column replace chain. The oracle applies the
    // identical chain in DuckDB — SQL replace is left-to-right
    // non-overlapping, exactly BPE's within-pass semantics, and every
    // symbol carries its OWN flanking spaces (" t  h  e "), so a merge
    // pattern " a  b " can neither match a prefix of a longer symbol
    // nor consume the boundary the next match in a run needs.
    // Note merge 6 ("m"+"er") consumes the output of merge 1 — the
    // chain order is rank order, which the oracle mirrors verbatim.
    ("q58_bpe_tokens",
      (s: SparkSession, dir: String) =>
        graft.text.Bpe.encodeStats(
          table(s, dir, "documents"), "doc_id", "text", BpeMerges)
          .withColumnRenamed("id", "doc_id"),
      Some {
        val chain = BpeMerges.foldLeft(
          "regexp_replace(w, '(.)', ' \\1 ', 'g')") {
          case (c, (a, b)) => s"replace($c, ' $a  $b ', ' $a$b ')"
        }
        s"""WITH w AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents)
        |SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
        |  CAST(coalesce(list_sum(
        |    [len(string_split(trim($chain), '  ')) for w in ws]), 0) AS INT)
        |    AS n_bpe_tokens
        |FROM w""".stripMargin
      }),

    // Template + wrapped layout round-trip as pure columns (reference
    // layout/template.py, layout/wrapped.py): format each coord through
    // a printf template whose placeholders are deliberately NOT in
    // z/x/y order (proves group-order handling in the derived parse
    // regex), and through a wrapped prefix+osm+suffix form, then parse
    // both back. The oracle formats the same strings and asserts the
    // parses are the identity — ground truth by construction.
    ("q60_layout_roundtrip",
      (s: SparkSession, dir: String) => {
        val tpl = graft.core.TemplateTileLayout("tiles/%(y)d-%(x)d/%(z)d.png")
        val wrapPat = """cache/layer_a/(\d+)/(\d+)/(\d+)\.jpeg"""
        val base = coords(s, dir).select("z", "x", "y").distinct()
        base
          .withColumn("turl", templateUrl(tpl, col("z"), col("x"), col("y")))
          .withColumn("__tp", templateParse(tpl, col("turl")))
          .withColumn(
            "wurl",
            concat(
              lit("cache/layer_a/"),
              osmPath(col("z"), col("x"), col("y")),
              lit(".jpeg")))
          .select(
            col("z"), col("x"), col("y"), col("turl"),
            col("__tp.z").as("tz"), col("__tp.x").as("tx"),
            col("__tp.y").as("ty"), col("wurl"),
            regexp_extract(col("wurl"), wrapPat, 1).cast("int").as("wz"),
            regexp_extract(col("wurl"), wrapPat, 2).cast("long").as("wx"),
            regexp_extract(col("wurl"), wrapPat, 3).cast("long").as("wy"))
      },
      Some(s"""WITH $CoordsCte,
        |d AS (SELECT DISTINCT z, x, y FROM coords)
        |SELECT z, x, y,
        |  'tiles/' || CAST(y AS VARCHAR) || '-' || CAST(x AS VARCHAR) ||
        |    '/' || CAST(z AS VARCHAR) || '.png' AS turl,
        |  z AS tz, x AS tx, y AS ty,
        |  'cache/layer_a/' || CAST(z AS VARCHAR) || '/' ||
        |    CAST(x AS VARCHAR) || '/' || CAST(y AS VARCHAR) || '.jpeg'
        |    AS wurl,
        |  z AS wz, x AS wx, y AS wy
        |FROM d""".stripMargin)),

    // Content-type magic sniff (reference filter/contenttype.py:17-27):
    // payload bytes synthesized deterministically per doc_id (PNG /
    // JPEG / JSON / unknown by id % 4), sniffed by the pure-column
    // magic test. Oracle = the id arithmetic that planted the bytes.
    ("q61_contenttype_sniff",
      (s: SparkSession, dir: String) => {
        val m = pmod(col("doc_id"), lit(4L))
        val data = when(
          m === 0,
          concat(
            lit(graft.image.ImageCodec.PngMagic),
            lit("IHDRpayload".getBytes("UTF-8"))))
          .when(
            m === 1,
            concat(
              lit(graft.image.ImageCodec.JpegMagic),
              lit("JFIFpayload".getBytes("UTF-8"))))
          .when(m === 2, lit("""{"k":1}""".getBytes("UTF-8")))
          .otherwise(lit("plain text".getBytes("UTF-8")))
        table(s, dir, "documents")
          .select(
            col("doc_id"),
            graft.engine.Filters.contentTypeColumn(data).as("content_type"))
      },
      Some("""SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'image/png'
        |    WHEN 1 THEN 'image/jpeg'
        |    WHEN 2 THEN 'application/json'
        |  END AS content_type
        |FROM documents""".stripMargin)),

    // Queue message codec round-trip (reference store/queue.py:8-31):
    // encode each coord as base64(JSON{z,x,y,n,metadata}) — the queue
    // stores' wire format — and decode it back, all as columns. The
    // oracle builds the identical JSON text and base64 in DuckDB and
    // asserts the decode is the identity.
    ("q62_queue_codec",
      (s: SparkSession, dir: String) => {
        val base = coords(s, dir).select("z", "x", "y").distinct()
        val dec = graft.engine.Stores.decodeQueueMessage(col("msg"))
        base
          .withColumn(
            "msg",
            graft.engine.Stores.encodeQueueMessage(
              col("z"), col("x"), col("y"), lit(1),
              map(lit("layer"), lit("osm"))))
          .withColumn("__d", dec)
          .select(
            col("z"), col("x"), col("y"), col("msg"),
            col("__d.z").as("dz"), col("__d.x").as("dx"),
            col("__d.y").as("dy"), col("__d.n").as("dn"),
            col("__d.metadata")(lit("layer")).as("dlayer"))
      },
      Some(s"""WITH $CoordsCte,
        |d AS (SELECT DISTINCT z, x, y FROM coords)
        |SELECT z, x, y,
        |  to_base64(encode(
        |    '{"z":' || CAST(z AS VARCHAR) || ',"x":' || CAST(x AS VARCHAR)
        |    || ',"y":' || CAST(y AS VARCHAR)
        |    || ',"n":1,"metadata":{"layer":"osm"}}')) AS msg,
        |  z AS dz, x AS dx, y AS dy, 1 AS dn, 'osm' AS dlayer
        |FROM d""".stripMargin)),

    // hammingPairsAuto end-to-end (collapse + stats-sized cap +
    // multi-index auto factor) over 60-bit md5 content signatures: at
    // document scale the only pairs within hamming 3 of an md5-derived
    // signature are the EXACT-dup groups at distance 0 (a non-identical
    // md5 pair landing within 3 bits is ~2^-45 per pair), so the oracle
    // is the identical-signature self-join. The collapse path is what's
    // under test: identical-signature groups expand to all member
    // pairs and can never be capped away.
    ("q63_hamming_dedup_pairs",
      (s: SparkSession, dir: String) => {
        val base = table(s, dir, "documents").select(col("doc_id"), col("text"))
        val dupped = base.unionByName(
          base.where(pmod(col("doc_id"), lit(50L)) === 3)
            .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
        val sigs = dupped.select(
          col("doc_id"),
          graft.dedup.Dedup.hash60(col("text")).as("sig"))
        graft.dedup.Dedup.hammingPairsAuto(sigs, "doc_id", "sig", 60, 3)
          .orderBy("da", "db")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 50 = 3),
        |h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS sig
        |  FROM d)
        |SELECT a.doc_id AS da, b.doc_id AS db, 0 AS dist
        |FROM h a JOIN h b ON a.sig = b.sig AND a.doc_id < b.doc_id
        |ORDER BY da, db""".stripMargin)),

    // The "keep" policy of a production dedup sweep: near-dup pairs
    // (the exact PPJoin jaccard operator of q24) -> connected-component
    // clusters -> keep the best-quality member per cluster (token
    // count, ties to smallest id); unpaired docs keep themselves. The
    // oracle replays the q24 jaccard chain, min-label CC via the q32
    // recursive CTE, and the same ranked window.
    ("q64_dedup_keep_best",
      (s: SparkSession, dir: String) => {
        val docs = table(s, dir, "documents")
        val pairs = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text")
        graft.dedup.Dedup.keepRepresentatives(
          docs.withColumn(
            "tok_cnt", graft.text.TextOps.tokenCount(col("text"))),
          pairs, "doc_id", "tok_cnt")
          .orderBy("id")
      },
      Some(s"""WITH RECURSIVE $ShingleCtes,
        |u AS (SELECT doc_id, unnest(sl) AS s0 FROM sh),
        |ds0 AS (SELECT DISTINCT doc_id,
        |          CAST(('0x' || substr(md5(s0), 1, 8)) AS BIGINT) AS s FROM u),
        |ds AS (SELECT ds0.* FROM ds0
        |       JOIN (SELECT s FROM ds0 GROUP BY s HAVING count(*) <= 1000) r USING (s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id da, b.doc_id db, count(*) AS common
        |  FROM ds a JOIN ds b USING (s) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT da, db FROM common
        |  JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
        |  WHERE 1000000.0 * common / (sa.n + sb.n - common) >= 500000),
        |edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cl AS (SELECT a AS id, least(a, min(b)) AS cluster_id
        |       FROM reach GROUP BY a),
        |scored AS (SELECT doc_id AS id,
        |             len(regexp_extract_all(text, '\\S+')) AS score
        |           FROM documents),
        |lab AS (SELECT s.id, coalesce(cl.cluster_id, s.id) AS cluster_id,
        |          s.score
        |        FROM scored s LEFT JOIN cl ON cl.id = s.id),
        |rk AS (SELECT id, cluster_id,
        |         row_number() OVER (
        |           PARTITION BY cluster_id ORDER BY score DESC, id) AS rk
        |       FROM lab)
        |SELECT id, cluster_id, rk = 1 AS keep FROM rk ORDER BY id""".stripMargin)),

    // MergeFilter (reference filter/merge.py paste semantics) as a
    // pixel-level value check: 300 deterministic base tiles at z5, an
    // OPAQUE different-content overlay on every 3rd coord. An opaque
    // overlay must exactly replace the base raster (pixel-for-pixel vs
    // the decoded overlay, across PNG and JPEG bases), and coords with
    // no overlay must pass the base bytes through UNTOUCHED (md5
    // equality). The oracle pins the planted arithmetic: which coords
    // have overlays, and ok = TRUE everywhere.
    ("q65_merge_tiles",
      (s: SparkSession, dir: String) => {
        val pixEq = udf((a: Array[Byte], b: Array[Byte]) =>
          graft.image.ImageCodec.pixelsEqual(a, b))
        val imgs = graft.engine.Corpus.generate(s, 1300).toDF()
          .withColumn("__i", substring(col("image_id"), 4, 12).cast("long"))
        val base = imgs.where(col("__i") < 300).select(
          lit(5).as("z"),
          pmod(col("__i"), lit(32L)).as("x"),
          floor(col("__i") / 32).cast("long").as("y"),
          col("bytes").as("data"),
          col("bytes").as("__orig"))
        val overlay = imgs
          .where(col("__i") >= 1000 && pmod(col("__i") - 1000, lit(3L)) === 0)
          .select(
            lit(5).as("z"),
            pmod(col("__i") - 1000, lit(32L)).as("x"),
            floor((col("__i") - 1000) / 32).cast("long").as("y"),
            col("bytes").as("data"))
        graft.engine.Filters.mergeStores(base, Seq(overlay))
          .join(
            overlay.select(
              col("z"), col("x"), col("y"), col("data").as("__ov")),
            Seq("z", "x", "y"), "left")
          .select(
            concat_ws("/", col("z"), col("x"), col("y")).as("media_id"),
            col("__ov").isNotNull.as("overlay_applied"),
            when(col("__ov").isNull, md5(col("data")) === md5(col("__orig")))
              .otherwise(pixEq(col("data"), col("__ov"))).as("ok"))
          .orderBy("media_id")
      },
      Some("""SELECT printf('5/%d/%d', g.i % 32, g.i // 32) AS media_id,
        |  (g.i % 3 = 0) AS overlay_applied, TRUE AS ok
        |FROM generate_series(0, 299) g(i)
        |ORDER BY media_id""".stripMargin)),

    // BPE tokenization to ids — the form a training pipeline feeds a
    // model: encode every doc with the learned q58 merge chain, assign
    // each distinct token a dense id (sorted-token rank; the vocab
    // table is bounded by vocabulary size, so its global window is a
    // deliberate small-relation sort, not a corpus-scale one), emit
    // one (doc_id, pos, token, token_id) row per token. The oracle
    // replays the identical chain and ranking in DuckDB.
    ("q66_bpe_token_ids",
      (s: SparkSession, dir: String) => {
        // posexplode_OUTER + null-drop, not posexplode: a plain
        // explode lets InferFiltersFromGenerate push a size(tokens)>0
        // filter below the projection, re-evaluating the BPE encode
        // kernel once more per row in the filter (the q73 staging
        // hazard). The outer variant infers no filter; the null-drop
        // references the generated attribute, which cannot sink below
        // the Generate. Output identical (posexplode skips empty
        // arrays; outer+filter drops the same rows).
        val toks = graft.text.Bpe.encode(
          table(s, dir, "documents"), "doc_id", "text", BpeMerges)
          .select(
            col("id").as("doc_id"),
            posexplode_outer(col("tokens")).as(Seq("pos", "token")))
          .where(col("token").isNotNull)
        val vocab = toks.select("token").distinct()
          .withColumn(
            "token_id",
            (row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy("token")) - 1)
              .cast("long"))
        toks.join(vocab, "token")
          .select(col("doc_id"), col("pos"), col("token"), col("token_id"))
          .orderBy("doc_id", "pos")
      },
      Some {
        val chain = BpeMerges.foldLeft(
          "regexp_replace(w, '(.)', ' \\1 ', 'g')") {
          case (c, (a, b)) => s"replace($c, ' $a  $b ', ' $a$b ')"
        }
        s"""WITH w AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents),
        |flat AS (
        |  SELECT doc_id,
        |    flatten([string_split(trim($chain), '  ') for w in ws]) AS toks
        |  FROM w),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(unnest(generate_series(1, len(toks))) - 1 AS INT) AS pos,
        |    unnest(toks) AS token
        |  FROM flat),
        |vocab AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
        |  FROM (SELECT DISTINCT token FROM tok))
        |SELECT t.doc_id, t.pos, t.token, v.token_id
        |FROM tok t JOIN vocab v USING (token)
        |ORDER BY doc_id, pos""".stripMargin
      }),

    // Wide (256-bit, array<long>) hamming near-dup pairs — the
    // production signature width once 64-bit band keys saturate
    // (BENCH/DEDUP_SCALE.md's measured 100M quadratic regime): four
    // md5-derived 60-bit-per-long chunks per doc, one planted copy per
    // doc_id%50==3 with doc_id%4 bits flipped (one flip per long k at
    // position (doc_id*(k+1))%64, so flips are distinct by
    // construction and the true distance is exactly doc_id%4).
    // Random 240-bit signatures put every NON-planted pair at distance
    // ~120 (P(dist<=3) ~ 2^-218), so the exact output — pairs AND
    // distances — is closed-form in doc_id: recall and precision are
    // both pinned without the oracle re-deriving hamming math.
    ("q67_hamming_wide_pairs",
      (s: SparkSession, dir: String) => {
        val base = table(s, dir, "documents").select(col("doc_id"), col("text"))
        def chunk(c: Column, off: Int): Column =
          // kernel md5 slice — bit-identical to conv(substring(md5))
          org.apache.spark.sql.GraftColumnBridge.column(
            graft.sql.Md5PrefixExpr(
              org.apache.spark.sql.GraftColumnBridge.expression(
                c.cast("binary")), 15, off))
        val chunks = Seq(
          chunk(col("text"), 1), chunk(col("text"), 16),
          chunk(concat(col("text"), lit("#")), 1),
          chunk(concat(col("text"), lit("#")), 16))
        val orig = base.select(col("doc_id"), array(chunks: _*).as("sig"))
        def mask(k: Int): Column =
          when(
            pmod(col("doc_id"), lit(4L)) > k,
            expr(s"shiftleft(CAST(1 AS BIGINT), CAST((doc_id * ${k + 1}) % 64 AS INT))"))
            .otherwise(lit(0L))
        val planted = base.where(pmod(col("doc_id"), lit(50L)) === 3)
          .select(
            (col("doc_id") + 10000000L).as("doc_id"),
            array(chunks.zipWithIndex.map { case (c, k) =>
              c.bitwiseXOR(mask(k))
            }: _*).as("sig"))
        graft.dedup.Dedup.hammingPairsAuto(
          orig.unionByName(planted), "doc_id", "sig", 256, 3)
          .orderBy("da", "db")
      },
      Some("""SELECT doc_id AS da, doc_id + 10000000 AS db,
        |  CAST(doc_id % 4 AS INT) AS dist
        |FROM documents WHERE doc_id % 50 = 3
        |ORDER BY da, db""".stripMargin)),

    // Point-in-polygon spatial join (engine/Spatial): lineitem-derived
    // points vs three literal polygons (a pentagon, a CONCAVE L whose
    // notch defeats any convex shortcut, and an overlapping triangle)
    // over a 1000x1000 planar extent. The Spark side runs the scale
    // shape — cell-index equi-join at zoom 4, then the HOF ray-cast
    // refine; the oracle runs the naive cross join with the identical
    // even-odd crossing arithmetic in DuckDB list lambdas (same IEEE
    // expression order, so the two engines agree bit-for-bit on every
    // crossing test). Vertices carry non-dyadic decimals so no edge
    // passes exactly through a point.
    ("q68_point_in_polygon",
      (s: SparkSession, dir: String) => {
        val pts = table(s, dir, "lineitem").select(
          ((col("l_orderkey") % 1000) + 0.5).as("px"),
          ((col("l_partkey") % 1000) + 0.5).as("py"),
          col("l_orderkey").as("k"))
        graft.engine.Spatial.polygonJoin(pts, spatialSceneDf(s), 4, 0, 0, 1000, 1000)
          .groupBy("polygon_id")
          .agg(count(lit(1)).as("n_pts"), sum("k").as("sum_key"))
          .orderBy("polygon_id")
      },
      Some(s"""WITH polys AS (
        |  SELECT * FROM (VALUES
$spatialSceneSql
        |  ) AS t(polygon_id, vs)),
        |pts AS (
        |  SELECT (l_orderkey % 1000) + 0.5 AS px,
        |         (l_partkey % 1000) + 0.5 AS py,
        |         l_orderkey AS k
        |  FROM lineitem),
        |hits AS (
        |  SELECT p.polygon_id, q.k
        |  FROM pts q, polys p
        |  WHERE len(list_filter(
        |      list_zip(p.vs, list_concat(p.vs[2:], p.vs[1:1])),
        |      e -> ((e[1].y > q.py) != (e[2].y > q.py))
        |        AND q.px < (e[2].x - e[1].x) * (q.py - e[1].y) / (e[2].y - e[1].y) + e[1].x
        |    )) % 2 = 1)
        |SELECT polygon_id, count(*) AS n_pts, CAST(sum(k) AS BIGINT) AS sum_key
        |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin)),

    // 256-bit pHash near-dup from PIXELS (the production image-dedup
    // layout end-to-end): decode → 64×64 luma → DCT → 16×16 median
    // block → array<long> sig → wide hamming-banded pairs. Threshold
    // 56 sits in the measured margin of this exact corpus
    // (tools/PhashProbe: planted JPEG-q0.7 re-encode pairs ≤ 38 bits
    // apart, EVERY other pair — including dup-vs-unrelated cross
    // pairs, where the triangle bound is loosest — ≥ 82), so output =
    // exactly the planted (dup_i, img_i) pairs, closed-form in i.
    ("q69_phash256_neardup",
      (s: SparkSession, dir: String) => {
        val media = graft.engine.Corpus.generateNearDupMedia(s, 400).toDF()
        val hashes = graft.multimodal.Multimodal.imagePhash256(media)
          .where(col("error").isNull)
        graft.dedup.Dedup.hammingPairsAuto(hashes, "media_id", "sig", 256, 56)
          .select(col("da"), col("db"))
          .orderBy("da")
      },
      Some("""SELECT printf('dup%012d', g.i) AS da,
        |  printf('img%012d', g.i) AS db
        |FROM generate_series(0, 399) g(i)
        |WHERE g.i % 5 = 2
        |ORDER BY da""".stripMargin)),

    // Vector→raster tile assignment (the other half of q68's
    // raster↔vector pair): burn each polygon onto the zoom-6 tile
    // grid under the center-sample rule — every tile whose center
    // ray-casts inside. Engine side is Spatial.rasterize: bbox cell
    // explode + pure-column refine, NO join and NO shuffle (the spec
    // asserts the plan). The oracle enumerates ALL 4096 cells × every
    // polygon — deliberately ignorant of the bbox prefilter — so a
    // hash match also proves the prefilter drops nothing.
    ("q70_rasterize",
      (s: SparkSession, dir: String) => {
        graft.engine.Spatial.rasterize(spatialSceneDf(s), 6, 0, 0, 1000, 1000)
          .select(col("polygon_id"), col("cx"), col("cy"))
          .orderBy("polygon_id", "cy", "cx")
      },
      Some(s"""WITH polys AS (
        |  SELECT * FROM (VALUES
$spatialSceneSql
        |  ) AS t(polygon_id, vs)),
        |cells AS (
        |  SELECT gx.i AS cx, gy.i AS cy,
        |         (gx.i + 0.5) * (1000.0 / 64) AS px,
        |         (gy.i + 0.5) * (1000.0 / 64) AS py
        |  FROM generate_series(0, 63) gx(i), generate_series(0, 63) gy(i))
        |SELECT p.polygon_id, c.cx, c.cy
        |FROM cells c, polys p
        |WHERE len(list_filter(
        |    list_zip(p.vs, list_concat(p.vs[2:], p.vs[1:1])),
        |    e -> ((e[1].y > c.py) != (e[2].y > c.py))
        |      AND c.px < (e[2].x - e[1].x) * (c.py - e[1].y) / (e[2].y - e[1].y) + e[1].x
        |  )) % 2 = 1
        |ORDER BY 1, 3, 2""".stripMargin)),

    // Hilbert cell index (the S2-style space-filling curve; sql/
    // expressions.scala TileCodecs.hilbertId): every distinct derived
    // tile coord gets its curve position, then the position is
    // inverted back (hx/hy must equal x/y — the oracle pins them to
    // the originals, so a broken inverse hash-mismatches). The oracle
    // runs the SAME xy→d state machine, unrolled into 7 constant-s CTE
    // stages (z <= 7 here), each guarded by `s < 2^z` so shallower
    // zooms pass through that stage untouched. hilbertId is the
    // engine's physical-layout key: consecutive ids are grid-adjacent
    // (HilbertSpec proves 0 seam jumps vs Morton's 700+ at z=6), so a
    // range partition of 10^12 rows is one connected map region.
    ("q71_hilbert_cell",
      (s: SparkSession, dir: String) => {
        val h = hilbertId(col("z"), col("x"), col("y"))
        coords(s, dir)
          .select(col("z"), col("x"), col("y"))
          .distinct()
          .select(col("z"), col("x"), col("y"),
            h.as("hcell"),
            hilbertX(h).as("hx"),
            hilbertY(h).as("hy"))
          .orderBy("hcell")
      },
      Some(hilbertOracleSql)),

    // Hexagonal cell index (engine/Spatial hex*): the H3-analogue
    // planar index next to the quadtree/Hilbert S2 side — pointy-top
    // axial coordinates with cube rounding, packed into one long, as
    // pure column math. Points bin into hexes, then count/sum per
    // cell: the partition/join-key shape at 10^12 rows is identical
    // to q02/q03 (one shuffle on the cell id). The oracle replays the
    // fractional transform and every cube-rounding CASE in the SAME
    // IEEE operation order in DuckDB (the q68 discipline), so the two
    // engines agree bit-for-bit on each rounding fix; hash equality
    // therefore proves the assignment, the 21-bit pack, and the
    // unpack all at once.
    ("q72_hex_bin",
      (s: SparkSession, dir: String) => {
        import graft.engine.Spatial
        val pts = table(s, dir, "lineitem").select(
          ((col("l_orderkey") % 1000) + 0.5).as("px"),
          ((col("l_partkey") % 1000) + 0.5).as("py"),
          col("l_orderkey").as("k"))
        pts.select(
            Spatial.hexCellOfPoint(col("px"), col("py"), 20.0).as("hex_id"),
            col("k"))
          .groupBy("hex_id")
          .agg(count(lit(1)).as("n_pts"), sum("k").as("sum_key"))
          .select(col("hex_id"),
            Spatial.hexQ(col("hex_id")).as("hex_q"),
            Spatial.hexR(col("hex_id")).as("hex_r"),
            col("n_pts"), col("sum_key"))
          .orderBy("hex_id")
      },
      Some("""WITH pts AS (
        |  SELECT (l_orderkey % 1000) + 0.5 AS px,
        |         (l_partkey % 1000) + 0.5 AS py,
        |         l_orderkey AS k
        |  FROM lineitem),
        |ax AS (
        |  SELECT k,
        |    (0.5773502691896258 * px - 0.3333333333333333 * py) / 20.0 AS qf,
        |    (0.6666666666666666 * py) / 20.0 AS rf
        |  FROM pts),
        |cr AS (
        |  SELECT k, qf, rf,
        |    floor(qf + 0.5) AS rx,
        |    floor(-qf - rf + 0.5) AS ry,
        |    floor(rf + 0.5) AS rz
        |  FROM ax),
        |fx AS (
        |  SELECT k,
        |    CAST(CASE WHEN abs(rx - qf) > abs(ry - (-qf - rf))
        |               AND abs(rx - qf) > abs(rz - rf)
        |         THEN -ry - rz ELSE rx END AS BIGINT) AS q,
        |    CAST(CASE WHEN NOT (abs(rx - qf) > abs(ry - (-qf - rf))
        |                   AND abs(rx - qf) > abs(rz - rf))
        |              AND NOT (abs(ry - (-qf - rf)) > abs(rz - rf))
        |         THEN -rx - ry ELSE rz END AS BIGINT) AS r
        |  FROM cr)
        |SELECT (q + 1048576) * 2097152 + (r + 1048576) AS hex_id,
        |       q AS hex_q, r AS hex_r,
        |       count(*) AS n_pts, CAST(sum(k) AS BIGINT) AS sum_key
        |FROM fx GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // Winnowing fingerprints (text/TextOps.winnowFingerprints — the
    // MOSS partial-duplicate detector): hash every 8-gram, slide a
    // 7-gram window, keep each window's minimum with ties to the
    // rightmost position. Rolling-hash fingerprinting proper — unlike
    // q21's whole-doc hash it LOCATES shared spans (any common
    // substring of length >= k+w-1 = 14 shares a fingerprint). The
    // rightmost-tie rule lives inside the hash key (fp*2^21 + (2^21-1
    // -pos)), so Spark's array_min over HOF slices and DuckDB's
    // windowed list_aggregate 'min' over list comprehensions (lateral
    // generate_series is not available — the q31 lesson) compute the
    // identical single min. Verifies gram hashing, the window-min
    // selection, the tie rule, and the pos/fp unpack in one hash.
    // md5 keys are the ORACLE-portable choice; production sweeps use
    // winnowFingerprints(fast = true) — codegen'd xxhash64 grams,
    // 1.4x end-to-end (tools/WinnowTime), same selection semantics.
    ("q73_winnow_fp",
      (s: SparkSession, dir: String) => {
        // explode_OUTER, then drop the null rows: a plain explode lets
        // InferFiltersFromGenerate push a size(winnow)>0 filter below
        // the projections, re-inlining the fused winnow expression
        // (with its per-window gram re-hash) into the filter — the
        // exact quadratic evaluation the staged form exists to avoid.
        // The outer variant infers no filter; the null-drop references
        // the GENERATED attribute, which cannot sink below Generate.
        graft.text.TextOps
          .winnowFingerprints(table(s, dir, "documents"), "text", 8, 7)
          .select(col("doc_id"), explode_outer(col("winnow")).as("w"))
          .where(col("w").isNotNull)
          .select(col("doc_id"), col("w.pos").as("pos"), col("w.fp").as("fp"))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 10)) AS BIGINT)
        |       * 2097152 + (2097151 - i)
        |     for i in range(1, greatest(length(text) - 7, 1) + 1)] AS hkeys,
        |    greatest(length(text) - 7, 1) AS grams
        |  FROM documents
        |  WHERE length(text) >= 8),
        |w1 AS (
        |  SELECT doc_id,
        |    list_distinct([list_aggregate(hkeys[s : s + 6], 'min')
        |       for s in range(1, greatest(grams - 6, 1) + 1)]) AS winners
        |  FROM g),
        |fps AS (SELECT doc_id, unnest(winners) AS hk FROM w1)
        |SELECT doc_id, 2097151 - (hk & 2097151) AS pos, hk >> 21 AS fp
        |FROM fps ORDER BY doc_id, pos""".stripMargin)),

    // Hex-indexed point-in-polygon join (engine/Spatial.hexPolygonJoin)
    // on the q68 scene: points meet polygons on the packed hex cell id
    // (points → hexCellOfPoint, polygons → hexCover bbox parallelogram
    // explode), exact ray-cast refine above the join. The oracle is
    // q68's index-IGNORANT naive cross join, so hash equality proves
    // the hex cover is a lossless prefilter — including the axial
    // shear and the ±1 cube-rounding margin — on top of the already-
    // proven crossing arithmetic. Hex size 62.5 ≈ the zoom-4 quad cell
    // q68 uses.
    ("q74_hex_polygon_join",
      (s: SparkSession, dir: String) => {
        val pts = table(s, dir, "lineitem").select(
          ((col("l_orderkey") % 1000) + 0.5).as("px"),
          ((col("l_partkey") % 1000) + 0.5).as("py"),
          col("l_orderkey").as("k"))
        graft.engine.Spatial.hexPolygonJoin(pts, spatialSceneDf(s), 62.5)
          .groupBy("polygon_id")
          .agg(count(lit(1)).as("n_pts"), sum("k").as("sum_key"))
          .orderBy("polygon_id")
      },
      Some(s"""WITH polys AS (
        |  SELECT * FROM (VALUES
$spatialSceneSql
        |  ) AS t(polygon_id, vs)),
        |pts AS (
        |  SELECT (l_orderkey % 1000) + 0.5 AS px,
        |         (l_partkey % 1000) + 0.5 AS py,
        |         l_orderkey AS k
        |  FROM lineitem),
        |hits AS (
        |  SELECT p.polygon_id, q.k
        |  FROM pts q, polys p
        |  WHERE len(list_filter(
        |      list_zip(p.vs, list_concat(p.vs[2:], p.vs[1:1])),
        |      e -> ((e[1].y > q.py) != (e[2].y > q.py))
        |        AND q.px < (e[2].x - e[1].x) * (q.py - e[1].y) / (e[2].y - e[1].y) + e[1].x
        |    )) % 2 = 1)
        |SELECT polygon_id, count(*) AS n_pts, CAST(sum(k) AS BIGINT) AS sum_key
        |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PII redaction (text/TextOps.redactPii — the scrub stage):
    // deterministic per-row emails/phones/IPs planted onto the natural
    // text (which is PII-inert: verified zero '@', phone-shaped, or
    // dotted-digit runs in the corpus), then the three-pattern
    // regexp_replace chain. Patterns live in the Java-regex ∩ RE2
    // common subset, so the oracle replays the identical strings with
    // DuckDB's 'g' flag (Spark's regexp_replace is global by default
    // — the flag asymmetry is the one semantic gap to bridge). The
    // md5 of the redacted text pins every replacement span; the
    // counts pin regexp_count against len(regexp_extract_all).
    ("q75_pii_redact",
      (s: SparkSession, dir: String) => {
        import graft.text.TextOps
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example or 555-867-5309 or 555 123 4567 from 10.0.0."),
          (col("doc_id") % 250).cast("string"))
        table(s, dir, "documents").select(
          col("doc_id"),
          md5(TextOps.redactPii(planted).cast("binary")).as("h"),
          regexp_count(planted, lit(TextOps.EmailRe)).as("n_email"),
          regexp_count(planted, lit(TextOps.Ipv4Re)).as("n_ip"),
          regexp_count(planted, lit(TextOps.PhoneRe)).as("n_phone"))
      },
      Some("""WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id ||
        |    '@mail.example or 555-867-5309 or 555 123 4567 from 10.0.0.' ||
        |    (doc_id % 250) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g')) AS h,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone
        |FROM p""".stripMargin)),

    // Gopher-style repetition signal (Rae et al. 2021 §A1.1): the
    // fraction of a document's characters covered by its most
    // frequent word bigram — the canonical repeated-boilerplate
    // detector, and a real aggregation shape (unlike q21's pure
    // column ratios): explode bigrams, count per (doc, bigram) — ONE
    // shuffle, map-side partial agg — then a doc-partitioned window
    // picks the top (count desc, bigram asc). 349/500 corpus docs
    // have a naturally repeated bigram, so the signal is non-trivial.
    // The fraction is double math in pinned operation order, so the
    // floor-scaled value is bit-identical across engines.
    ("q76_repetition",
      (s: SparkSession, dir: String) =>
        graft.text.TextOps
          .topBigramFraction(table(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH w AS (
        |  SELECT doc_id, length(text) AS chars,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, chars,
        |         unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bg
        |  FROM w WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, chars, bg, count(*) AS c FROM b GROUP BY 1, 2, 3),
        |r AS (SELECT doc_id, bg, c, chars,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg) AS rn
        |      FROM c)
        |SELECT doc_id, bg AS top_bigram, c AS top_cnt,
        |  CAST(floor(1000000.0 * c * length(bg) / chars) AS BIGINT) AS top_frac_e6
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Cross-document partial-dup pairs from winnowing fingerprints
    // (TextOps.winnowPairs — span-level dedup, the lightweight kin of
    // suffix-array training-data dedup): distinct fps per doc, df-cap
    // 10 drops corpus-boilerplate spans (2,626 of 3,582 distinct fps
    // are shared by 2+ docs here, max df 238 — exactly the quadratic
    // buckets the cap exists for), fp self-join, pairs with 5+ shared
    // spans. One shuffle on fp (the df window rides the join
    // exchange), one on the pair key. The oracle replays the whole
    // lattice — winnow selection, distinct, cap, join, threshold — in
    // DuckDB.
    ("q77_winnow_pairs",
      (s: SparkSession, dir: String) =>
        graft.text.TextOps
          .winnowPairs(table(s, dir, "documents"), "doc_id", "text", 8, 7, 5L, 10L)
          .orderBy("da", "db"),
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 10)) AS BIGINT)
        |       * 2097152 + (2097151 - i)
        |     for i in range(1, greatest(length(text) - 7, 1) + 1)] AS hkeys,
        |    greatest(length(text) - 7, 1) AS grams
        |  FROM documents
        |  WHERE length(text) >= 8),
        |w1 AS (
        |  SELECT doc_id,
        |    list_distinct([list_aggregate(hkeys[s : s + 6], 'min')
        |       for s in range(1, greatest(grams - 6, 1) + 1)]) AS winners
        |  FROM g),
        |d AS (SELECT DISTINCT doc_id, unnest(winners) >> 21 AS fp FROM w1),
        |df AS (SELECT fp, count(*) AS dfc FROM d GROUP BY 1),
        |dd AS (SELECT d.doc_id, d.fp FROM d JOIN df USING (fp) WHERE df.dfc <= 10),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
        |      FROM dd a JOIN dd b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT da, db, shared FROM p WHERE shared >= 5 ORDER BY da, db""".stripMargin)),

    // REAL EXIF metadata over synthesized JPEG/APP1/TIFF payloads
    // (Multimodal.parseExif — from-scratch IFD0 walk, both byte
    // orders, inline + offset-addressed values): the q43/q45 pattern —
    // the oracle pins the exact orientation/model/timestamp each
    // deterministic payload was written with, alternating endianness
    // per row so a single-endian parser hash-mismatches half the rows.
    ("q78_exif_meta",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val media = s.range(200).map { i =>
          (f"ex$i%06d", graft.multimodal.Multimodal.synthExifJpeg(
            (1 + i % 8).toInt,
            s"cam${i % 5}",
            f"2024:${1 + i % 12}%02d:${1 + i % 28}%02d 12:00:${i % 60}%02d",
            i % 2 == 0))
        }.toDF("media_id", "bytes")
        graft.multimodal.Multimodal.exifMeta(media)
          .select("media_id", "orientation", "model", "taken_at")
      },
      Some("""SELECT printf('ex%06d', g.i) AS media_id,
        |  CAST(1 + g.i % 8 AS INT) AS orientation,
        |  'cam' || (g.i % 5) AS model,
        |  printf('2024:%02d:%02d 12:00:%02d',
        |         1 + g.i % 12, 1 + g.i % 28, g.i % 60) AS taken_at
        |FROM generate_series(0, 199) g(i)""".stripMargin)),

    // Orientation normalization, checked at the PIXEL level: 160
    // deterministic 11×7 PNGs (pixel value closed-form in (x, y, i)),
    // each STORED under EXIF orientation 1+i%8 (the stored raster is
    // the upright image passed through the inverse orientation, the
    // way a rotated camera writes it). orientNormalize must restore
    // the upright raster exactly — the oracle is the pixel generator
    // itself, so any wrong affine map, axis swap, or dimension flip in
    // any of the 8 orientations mismatches thousands of rows. (The
    // forward semantics of each orientation are pinned independently
    // by OrientSpec's hand-derived 3×2 goldens, so a consistent
    // forward+inverse error cannot hide in the round trip.) W≠H and
    // both >8 so quarter turns and mirrors can't alias.
    ("q79_orient_normalize",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val stored = s.range(160).map { i =>
          val ii = i.toInt
          val o = 1 + ii % 8
          val up = new java.awt.image.BufferedImage(
            11, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 7) {
            var x = 0
            while (x < 11) {
              up.setRGB(x, y,
                (((x * 17 + ii) % 256) << 16) |
                  (((y * 29 + 2 * ii) % 256) << 8) | ((x + y) % 256))
              x += 1
            }
            y += 1
          }
          val st = graft.image.ImageCodec.applyOrientation(
            up, graft.image.ImageCodec.inverseOrientation(o))
          (f"or$ii%06d", graft.image.ImageCodec.encode(st, "png"), o)
        }.toDF("media_id", "bytes", "orientation")
        graft.multimodal.Multimodal.pixelRows(
          graft.multimodal.Multimodal.orientNormalize(stored))
          .orderBy("media_id", "y", "x")
      },
      Some("""SELECT printf('or%06d', d.i) AS media_id,
        |  CAST(xs.x AS INT) AS x, CAST(ys.y AS INT) AS y,
        |  CAST((xs.x * 17 + d.i) % 256 AS INT) AS r,
        |  CAST((ys.y * 29 + 2 * d.i) % 256 AS INT) AS g,
        |  CAST((xs.x + ys.y) % 256 AS INT) AS b
        |FROM generate_series(0, 159) d(i)
        |CROSS JOIN generate_series(0, 10) xs(x)
        |CROSS JOIN generate_series(0, 6) ys(y)
        |ORDER BY media_id, y, x""".stripMargin)),

    // Burst-photo grouping end to end from REAL EXIF bytes: 360 JPEG
    // payloads (3 devices × 120 shots, alternating endianness) carry
    // capture times t = j*4 + 60*(j/5) seconds — runs of five 4s-apart
    // shots separated by 64s jumps, so gap=10 yields bursts of exactly
    // five. exifMeta parses the APP1 DateTime, burstSessionize
    // sessionizes per device, and the keep flag marks each burst's
    // earliest frame. The oracle replays the identical lattice (break
    // flag via lag, running-sum burst ids, ranked keep) in DuckDB from
    // the closed-form times — so the EXIF parse, timestamp decode, and
    // both window passes all have to agree.
    ("q80_burst_groups",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val media = s.range(360).map { i =>
          val ii = i.toInt
          val j = ii / 3
          val t = j * 4 + 60 * (j / 5)
          (f"bp$ii%06d", graft.multimodal.Multimodal.synthExifJpeg(
            1, s"cam${ii % 3}",
            f"2024:01:01 ${t / 3600}%02d:${t / 60 % 60}%02d:${t % 60}%02d",
            ii % 2 == 0))
        }.toDF("media_id", "bytes")
        val meta = graft.multimodal.Multimodal.exifMeta(media)
          .select(
            col("media_id"), col("model").as("device"),
            to_timestamp(col("taken_at"), "yyyy:MM:dd HH:mm:ss").as("ts"))
        val bursts = graft.dedup.Dedup.burstSessionize(
          meta, "media_id", "device", "ts", gapSeconds = 10L)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("device", "burst_seq").orderBy("ts", "media_id")
        bursts
          .withColumn("keep", row_number().over(w) === 1)
          .select("media_id", "device", "burst_seq", "keep")
          .orderBy("media_id")
      },
      Some("""WITH m AS (
        |  SELECT printf('bp%06d', g.i) AS media_id,
        |    'cam' || (g.i % 3) AS device,
        |    (g.i // 3) * 4 + 60 * ((g.i // 3) // 5) AS t
        |  FROM generate_series(0, 359) g(i)),
        |b AS (
        |  SELECT media_id, device, t,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 10
        |         THEN 1 ELSE 0 END AS brk
        |  FROM m WINDOW w AS (PARTITION BY device ORDER BY t, media_id)),
        |s AS (
        |  SELECT media_id, device, t,
        |    sum(brk) OVER (PARTITION BY device ORDER BY t, media_id
        |                   ROWS UNBOUNDED PRECEDING) AS burst_seq
        |  FROM b)
        |SELECT media_id, device, CAST(burst_seq AS BIGINT) AS burst_seq,
        |  (row_number() OVER (PARTITION BY device, burst_seq
        |                      ORDER BY t, media_id) = 1) AS keep
        |FROM s ORDER BY media_id""".stripMargin)),

    // Video near-dup by shared-frame signatures: 60 REAL MP4 containers
    // (20 × 16-byte frames each, planted payloads) where every odd
    // video shares 16 of its 20 frames with its even predecessor — a
    // re-muxed copy with 4 frames swapped. mp4FrameBytes walks the
    // stsz/stco tables and slices true frame payloads, md5 digests
    // them in the projection directly above (frames never shuffle),
    // and sharedKeyPairs finds pairs with ≥10 shared distinct frames.
    // The oracle regenerates the frame strings closed-form, md5s them
    // in DuckDB, and replays the full lattice — so the container walk,
    // the byte slicing, and the pair lattice all have to agree.
    ("q81_video_neardup",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val vids = s.range(60).map { v =>
          val vi = v.toInt
          val payloads = (0 until 20).map { j =>
            val (sv, sj) = if (vi % 2 == 1 && j < 16) (vi - 1, j) else (vi, j)
            f"fr$sv%05d_$sj%05d###".getBytes("US-ASCII")
          }
          (f"vid$vi%04d", graft.multimodal.Multimodal.synthMp4(
            frames = 20, frameSize = 16,
            nChunks = 1 + vi % 3, chunkGap = vi % 2,
            framePayloads = payloads))
        }.toDF("media_id", "bytes")
        val sigs = graft.multimodal.Multimodal.mp4FrameBytes(vids, everyK = 1)
          .select(col("media_id"), md5(col("frame_bytes")).as("fh"))
        graft.dedup.Dedup.sharedKeyPairs(
          sigs, "media_id", "fh", minShared = 10L)
          .orderBy("da", "db")
      },
      Some("""WITH f AS (
        |  SELECT printf('vid%04d', v.i) AS id,
        |    md5(printf('fr%05d_%05d###',
        |      CASE WHEN v.i % 2 = 1 AND j.j < 16 THEN v.i - 1 ELSE v.i END,
        |      j.j)) AS k
        |  FROM generate_series(0, 59) v(i)
        |  CROSS JOIN generate_series(0, 19) j(j)),
        |d AS (SELECT DISTINCT id, k FROM f),
        |kept AS (SELECT d.* FROM d
        |         JOIN (SELECT k FROM d GROUP BY k HAVING count(*) <= 1000) c
        |         USING (k)),
        |p AS (SELECT a.id AS da, b.id AS db, count(*) AS shared
        |      FROM kept a JOIN kept b ON a.k = b.k AND a.id < b.id
        |      GROUP BY 1, 2)
        |SELECT da, db, shared FROM p WHERE shared >= 10
        |ORDER BY da, db""".stripMargin)),

    // Geo × image, end to end: 4096 EXIF payloads carry REAL GPS
    // sub-IFDs (deg/min/sec RATIONALs, N/S/E/W refs, both byte
    // orders), exifMeta converts them to decimal degrees, mercatorX/Y
    // project 4326→3857, and tileOfPoint assigns each photo a z=6
    // tile. The oracle replays the rational arithmetic in the parser's
    // exact op order, the identical projection formulas, and q02's
    // trunc-based tile math — so a sign flip, an endianness slip, a
    // min/sec swap, or a projection error all mismatch. (The oracle
    // compares the ASSIGNED TILE, not raw meters: libm tan/ln may
    // differ by an ulp across engines; a z=6 tile is ~626 km wide.)
    ("q82_exif_gps_tiles",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val media = s.range(4096).map { i =>
          val ii = i.toInt
          (f"gp$ii%06d", graft.multimodal.Multimodal.synthExifJpeg(
            1, s"cam${ii % 5}", "2024:01:01 00:00:00", ii % 2 == 0,
            gps = Some((
              if (ii % 4 < 2) "N" else "S",
              Seq(((ii % 80).toLong, 1L), ((ii % 60).toLong, 1L),
                (((ii * 7) % 6000).toLong, 100L)),
              if (ii % 2 == 0) "E" else "W",
              Seq(((ii % 179).toLong, 1L), (((ii * 3) % 60).toLong, 1L),
                (((ii * 11) % 6000).toLong, 100L))))))
        }.toDF("media_id", "bytes")
        graft.multimodal.Multimodal.exifMeta(media)
          .select(
            col("media_id"),
            tileOfPointX(mercatorX(col("lon")), lit(6)).as("x"),
            tileOfPointY(mercatorY(col("lat")), lit(6)).as("y"))
          .orderBy("media_id")
      },
      Some("""WITH g AS (
        |  SELECT v.i AS i,
        |    (CASE WHEN v.i % 4 < 2 THEN 1 ELSE -1 END) *
        |      ((v.i % 80) + (v.i % 60)/60.0 + ((v.i*7) % 6000)/100.0/3600.0) AS lat,
        |    (CASE WHEN v.i % 2 = 0 THEN 1 ELSE -1 END) *
        |      ((v.i % 179) + ((v.i*3) % 60)/60.0 + ((v.i*11) % 6000)/100.0/3600.0) AS lon
        |  FROM generate_series(0, 4095) v(i)),
        |m AS (
        |  SELECT i, lon * (pi() * 6378137.0 / 180.0) AS px,
        |    6378137.0 * ln(tan(pi() / 4.0 + lat * (pi() / 360.0))) AS py
        |  FROM g)
        |SELECT printf('gp%06d', i) AS media_id,
        |  CAST(trunc(((px - (-20037508.34)) * (1::BIGINT << 6)) / (20037508.34 - (-20037508.34))) AS BIGINT) AS x,
        |  (1::BIGINT << 6) - CAST(trunc(((py - (-20037508.34)) * (1::BIGINT << 6)) / (20037508.34 - (-20037508.34))) AS BIGINT) - 1 AS y
        |FROM m ORDER BY media_id""".stripMargin))
  )

  /** q71's oracle: the Hilbert xy→d loop unrolled for z <= 7 — one
    * pair of CTEs per curve scale s ∈ {64, 32, …, 1} (quadrant bits,
    * then rotation + distance), a stage inactive when s >= 2^z. The
    * quadrant value (3·rx) XOR ry is written arithmetically as
    * 3·rx + ry − 2·rx·ry (identical on {0,1}²). */
  // lazy: declared below the `queries` val that captures it — lazy
  // forces it at capture time instead of leaving a null in the Some
  private lazy val hilbertOracleSql: String = {
    val stages = (6 to 0 by -1).map { i =>
      val s = 1L << i
      val k = 6 - i
      s"""h${k}b AS (
         |  SELECT z, x0, y0, d, x, y,
         |         CASE WHEN (1::BIGINT << z) > $s AND (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |         CASE WHEN (1::BIGINT << z) > $s AND (y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |  FROM h$k),
         |h${k + 1} AS (
         |  SELECT z, x0, y0,
         |         d + ${s * s}::BIGINT * (3 * rx + ry - 2 * rx * ry) AS d,
         |         CASE WHEN (1::BIGINT << z) <= $s OR ry = 1 THEN x
         |              WHEN rx = 1 THEN $s - 1 - y ELSE y END AS x,
         |         CASE WHEN (1::BIGINT << z) <= $s OR ry = 1 THEN y
         |              WHEN rx = 1 THEN $s - 1 - x ELSE x END AS y
         |  FROM h${k}b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $CoordsCte,
       |h0 AS (
       |  SELECT DISTINCT z, x AS x0, y AS y0, 0::BIGINT AS d, x, y FROM coords),
       |$stages
       |SELECT z, x0 AS x, y0 AS y,
       |       (1::BIGINT << (2 * z)) + d AS hcell,
       |       x0 AS hx, y0 AS hy
       |FROM h7
       |ORDER BY hcell""".stripMargin
  }

  def queryMap: Map[String, (SparkSession, String) => DataFrame] =
    queries.map { case (n, f, _) => n -> f }.toMap

  def oracleMap: Map[String, String] =
    queries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
