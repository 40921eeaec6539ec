package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BoundingPyramid, Extent, FreeTileGrid, QuadTileGrid, TileGrids}

/** The engine's Column-expression library: every tile-coordinate
  * operation as pure Catalyst column math (shiftleft / pmod / floor /
  * bitwise ops) so whole-stage codegen applies — no UDFs in the hot
  * path. Mirrors graft.core semantics 1:1 (cross-checked by
  * TileFunctionsSpec against the pure-Scala implementations).
  */
object TileFunctions {

  // Spark's Scala `shiftleft(Column, Int)` takes a literal shift; the SQL
  // function accepts a column — route through call_function.
  private def shiftL(c: Column, bits: Column): Column =
    call_function("shiftleft", c, bits)
  def shiftR(c: Column, bits: Column): Column =
    call_function("shiftright", c, bits)

  /** 2^z as a BIGINT column. */
  def pow2(z: Column): Column = shiftL(lit(1L), z)

  /** Integer division for non-negative operands. */
  def intDiv(a: Column, b: Column): Column = call_function("div", a, b)

  /** Consistent tile hash `((x / n) << z) ^ (y / n)`
    * (reference __init__.py:443-450). Unique per zoom level. */
  def tcHash(z: Column, x: Column, y: Column, n: Column = lit(1L)): Column =
    shiftL(intDiv(x, n), z).bitwiseXOR(intDiv(y, n))

  /** `EveryNth(n, i)` consistent-hash shard predicate
    * (reference filter/consistenthash.py:4-26). */
  def everyNth(z: Column, x: Column, y: Column, n: Int, i: Int): Column =
    pmod(tcHash(z, x, y), lit(n.toLong)) === lit(i.toLong)

  /** Quadkey string (hierarchical quadtree cell index). */
  def quadkey(z: Column, x: Column, y: Column): Column = Kernel.quadkey(z, x, y)

  /** 64-bit Z-order cell id `(1 << 2z) | morton(x, y)`. */
  def cellId(z: Column, x: Column, y: Column): Column = Kernel.cellId(z, x, y)

  /** De-interleaved x / y / z of a Z-order cell id (inverse of
    * [[cellId]]; the parent cell is simply `shiftright(cell, 2)`). */
  def cellX(cell: Column): Column = Kernel.cellX(cell)
  def cellY(cell: Column): Column = Kernel.cellY(cell)
  def cellZ(cell: Column): Column = Kernel.cellZ(cell)

  /** Hilbert-curve cell id — the locality-preserving physical-layout
    * key (sort / range-partition / cluster columns): consecutive ids
    * are grid-adjacent tiles, so every contiguous id range is one
    * CONNECTED map region; use [[cellId]]/[[quadkey]] when you need
    * bit-shift hierarchy instead. Same zoom sentinel as [[cellId]], so
    * [[cellZ]] reads its zoom. See [[TileCodecs.hilbertId]]. */
  def hilbertId(z: Column, x: Column, y: Column): Column = Kernel.hilbertId(z, x, y)

  /** Inverse x / y of a Hilbert cell id. */
  def hilbertX(cell: Column): Column = Kernel.hilbertX(cell)
  def hilbertY(cell: Column): Column = Kernel.hilbertY(cell)

  /** Meta-tile snap: `(z, n*(x/n), n*(y/n))`
    * (reference __init__.py:470-471). Returns (mx, my) columns. */
  def metatileX(x: Column, n: Int): Column = x - pmod(x, lit(n.toLong))
  def metatileY(y: Column, n: Int): Column = y - pmod(y, lit(n.toLong))

  /** The 4 quad children as an array of structs in the reference's yield
    * order (reference grid/quad.py:24-29). */
  def children(z: Column, x: Column, y: Column): Column =
    array(
      struct((z + 1).as("z"), (x * 2).as("x"), (y * 2).as("y")),
      struct((z + 1).as("z"), (x * 2 + 1).as("x"), (y * 2).as("y")),
      struct((z + 1).as("z"), (x * 2).as("x"), (y * 2 + 1).as("y")),
      struct((z + 1).as("z"), (x * 2 + 1).as("x"), (y * 2 + 1).as("y")))

  /** Quad parent struct, null at z = 0 (reference grid/quad.py:70-73). */
  def parent(z: Column, x: Column, y: Column): Column =
    when(z === 0, lit(null)).otherwise(
      struct(
        (z - 1).as("z"),
        intDiv(x, lit(2L)).as("x"),
        intDiv(y, lit(2L)).as("y")))

  /** XYZ <-> TMS y flip `(1 << z) - y - 1`
    * (reference store/mbtiles.py:50-65). Involutive. */
  def tmsY(z: Column, y: Column): Column = pow2(z) - y - 1L

  /** Point -> containing tile column math for a quad grid (reference
    * grid/quad.py:78-83): toward-zero truncation, XYZ y flip unless the
    * grid is flipY. Returns (tileX, tileY). */
  def tileOfPointX(px: Column, z: Column, grid: QuadTileGrid = TileGrids.Google): Column =
    ((px - grid.maxExtent.minX) * pow2(z) / grid.maxExtent.width).cast("long")

  def tileOfPointY(py: Column, z: Column, grid: QuadTileGrid = TileGrids.Google): Column = {
    val ty = ((py - grid.maxExtent.minY) * pow2(z) / grid.maxExtent.height).cast("long")
    if (grid.flipY) ty else pow2(z) - ty - 1L
  }

  /** EPSG:4326 → EPSG:3857 spherical WebMercator X (meters), R=6378137.
    * The bridge from GPS degrees (e.g.
    * [[graft.multimodal.Multimodal.exifMeta]]'s lat/lon) to the grid's
    * projected extent: x = λ·πR/180. Pure codegen column math; the
    * constant is built as `π·6378137/180` so a SQL oracle computing
    * `pi()*6378137.0/180.0` lands on the identical double. */
  def mercatorX(lonDeg: Column): Column =
    lonDeg * lit(math.Pi * 6378137.0 / 180.0)

  /** EPSG:4326 → EPSG:3857 Y (meters): y = R·ln(tan(π/4 + φπ/360)).
    * Valid for |φ| < 85.0511° (the WebMercator square's edge). libm
    * `tan`/`ln` may differ from another engine's by an ulp — harmless
    * for tile assignment (tiles are km wide), so oracles should compare
    * the ASSIGNED TILE, not the raw meters. */
  def mercatorY(latDeg: Column): Column =
    lit(6378137.0) * log(tan(lit(math.Pi / 4.0) + latDeg * lit(math.Pi / 360.0)))

  /** EPSG:3857 → 4326 longitude (degrees): λ = x·180/(πR) — the
    * inverse of [[mercatorX]], for reporting tile/join outputs back in
    * GPS terms. */
  def inverseMercatorLon(x: Column): Column =
    x / lit(math.Pi * 6378137.0 / 180.0)

  /** EPSG:3857 → 4326 latitude (degrees):
    * φ = (2·atan(exp(y/R)) − π/2)·180/π — the inverse of
    * [[mercatorY]]. Round-trips with it to ~1e-12° (one atan/exp ulp). */
  def inverseMercatorLat(y: Column): Column =
    (atan(exp(y / lit(6378137.0))) * lit(2.0) - lit(math.Pi / 2.0)) *
      lit(180.0 / math.Pi)

  /** Tile extent (minX, minY, maxX, maxY) columns for a quad grid
    * (reference grid/quad.py:31-48). */
  def tileExtent(
      z: Column,
      x: Column,
      y: Column,
      n: Column = lit(1L),
      border: Double = 0.0,
      grid: QuadTileGrid = TileGrids.Google): Seq[Column] = {
    val e = grid.maxExtent
    val scale = pow2(z).cast("double")
    val yy = if (grid.flipY) y.cast("double") else (pow2(z) - y - n).cast("double")
    val delta = if (border != 0) border / grid.tileSize else 0.0
    Seq(
      (lit(e.minX) + lit(e.width) * (x - delta) / scale).as("min_x"),
      (lit(e.minY) + lit(e.height) * (yy - delta) / scale).as("min_y"),
      (lit(e.minX) + lit(e.width) * (x + n + delta) / scale).as("max_x"),
      (lit(e.minY) + lit(e.height) * (yy + n + delta) / scale).as("max_y"))
  }

  /** Membership predicate for a driver-side bounding pyramid — a
    * disjunction over its (few) levels, fully prunable by Catalyst
    * (reference filter/inboundingpyramid.py:4-20). */
  def inPyramid(bp: BoundingPyramid, z: Column, x: Column, y: Column): Column =
    bp.bounds
      .map { case (zl, (xb, yb)) =>
        z === zl && x >= xb.start && x < xb.stop && y >= yb.start && y < yb.stop
      }
      .reduceOption(_ || _)
      .getOrElse(lit(false))

  /** Enumerate every coord of a bounding pyramid as a DataFrame
    * `(z INT, x BIGINT, y BIGINT)` with NO input table and no shuffle:
    * one `spark.range(count)` per level, index-decomposed into (x, y).
    * Scales to billions of tiles per level — nothing is materialized on
    * the driver (reference iterators __init__.py:245-279). */
  def enumeratePyramid(
      spark: SparkSession,
      bp: BoundingPyramid,
      partitionsPerLevel: Int = 0): DataFrame = {
    val levels = bp.bounds.toSeq.map { case (z, (xb, yb)) =>
      val yLen = math.max(yb.length, 1L)
      val count = xb.length * yb.length
      val base =
        if (partitionsPerLevel > 0) spark.range(0, count, 1, partitionsPerLevel)
        else spark.range(count)
      base.select(
        lit(z).as("z"),
        (lit(xb.start) + intDiv(col("id"), lit(yLen))).as("x"),
        (lit(yb.start) + col("id") % yLen).as("y"))
    }
    levels.reduceLeft(_ unionAll _)
  }

  /** A bounding pyramid as its per-level bounds relation — one row per
    * zoom, `(bz, bxmin, bxmax, bymin, bymax)` with inclusive max. This
    * is the BROADCAST side of region range joins: a dense pyramid
    * region is a set of per-z intervals; enumerating its tiles just to
    * filter against them (22M generated rows at z=12) is the wrong plan
    * at every scale. */
  def pyramidBounds(spark: SparkSession, bp: BoundingPyramid): DataFrame = {
    import spark.implicits._
    bp.bounds.toSeq
      .map { case (z, (xb, yb)) => (z, xb.start, xb.stop - 1, yb.start, yb.stop - 1) }
      .toDF("bz", "bxmin", "bxmax", "bymin", "bymax")
  }

  /** Restrict a (z, x, y)-keyed relation to a pyramid region via a
    * broadcast range semi-join on the per-level bounds (equi-key z +
    * range residuals — a BroadcastHashJoin, O(rows) work, no
    * enumeration). */
  def regionSemiJoin(df: DataFrame, bp: BoundingPyramid): DataFrame = {
    val b = pyramidBounds(df.sparkSession, bp)
    df.join(
      broadcast(b),
      df("z") === b("bz") &&
        df("x").between(b("bxmin"), b("bxmax")) &&
        df("y").between(b("bymin"), b("bymax")),
      "left_semi")
  }

  /** Enumerate the covering meta-tile coords (span n) of a pyramid,
    * aligned to multiples of n from the bounds' corner
    * (reference __init__.py:253-267). */
  def enumerateMetatiles(
      spark: SparkSession,
      bp: BoundingPyramid,
      n: Int): DataFrame = {
    // Empty levels carry the sentinel Bounds(Long.MaxValue, Long.MinValue);
    // running them through the count arithmetic would overflow into one
    // garbage meta-tile — the driver-side metatilecoords yields nothing
    // for them, and so must this form.
    val levels = bp.bounds.toSeq
      .filter { case (_, (xb, yb)) => xb.nonEmpty && yb.nonEmpty }
      .map { case (z, (xb, yb)) =>
        val mx0 = n * (xb.start / n)
        val my0 = n * (yb.start / n)
        val xCount = (xb.stop - mx0 + n - 1) / n
        val yCount = (yb.stop - my0 + n - 1) / n
        spark
          .range(xCount * yCount)
          .select(
            lit(z).as("z"),
            (lit(mx0) + intDiv(col("id"), lit(yCount)) * n).as("x"),
            (lit(my0) + (col("id") % yCount) * n).as("y"),
            lit(n).as("n"))
      }
    if (levels.isEmpty)
      spark.range(0).select(
        lit(0).as("z"), col("id").as("x"), col("id").as("y"), lit(n).as("n"))
    else levels.reduceLeft(_ unionAll _)
  }

  /** printf-template layout as codegen column concat (reference
    * layout/template.py:9-37): the driver splits the template on its
    * `%(x)d/%(y)d/%(z)d` placeholders once; per row only the coord
    * casts run. Bit-exact vs core.TemplateTileLayout.filename. */
  def templateUrl(
      layout: graft.core.TemplateTileLayout,
      z: Column,
      x: Column,
      y: Column): Column = {
    val Placeholder = """%\(([xyz])\)d""".r
    val parts = Seq.newBuilder[Column]
    var idx = 0
    for (m <- Placeholder.findAllMatchIn(layout.template)) {
      if (m.start > idx) parts += lit(layout.template.substring(idx, m.start))
      parts += (m.group(1) match {
        case "z" => z.cast("string")
        case "x" => x.cast("string")
        case "y" => y.cast("string")
      })
      idx = m.end
    }
    if (idx < layout.template.length)
      parts += lit(layout.template.substring(idx))
    concat(parts.result(): _*)
  }

  /** Inverse of [[templateUrl]] as pure column math (reference
    * layout/template.py:24-37 derives the parse regex from the same
    * template): the capture-group pattern is built once driver-side in
    * placeholder order, per row only three `regexp_extract`s run.
    * Returns a struct(z INT, x LONG, y LONG). */
  def templateParse(
      layout: graft.core.TemplateTileLayout,
      url: Column): Column = {
    // the pattern and group order come from the layout's OWN derivation
    // (core/TileLayout.scala captureRe) — core-side and column-side
    // parsing can never diverge
    val pattern = layout.captureRe
    struct(
      regexp_extract(url, pattern, layout.captureGroup("z")).cast("int").as("z"),
      regexp_extract(url, pattern, layout.captureGroup("x")).cast("long").as("x"),
      regexp_extract(url, pattern, layout.captureGroup("y")).cast("long").as("y"))
  }

  /** Mirror-layout URL chooser (reference store/url.py:34 picks one of
    * several equivalent tile-server layouts per coord): deterministic
    * selection by the engine's consistent tile hash — same spreading
    * contract, engine-stable hash (the reference uses Python's
    * process-seeded object hash, which is not reproducible across
    * runs; a deterministic hash is strictly better for lineage). */
  def mirrorUrl(
      layouts: Seq[graft.core.TemplateTileLayout],
      z: Column,
      x: Column,
      y: Column): Column = {
    require(layouts.nonEmpty, "mirrorUrl needs at least one layout")
    element_at(
      array(layouts.map(l => templateUrl(l, z, x, y)): _*),
      (pmod(tcHash(z, x, y), lit(layouts.size.toLong)) + 1).cast("int"))
  }

  /** OSM path `z/x/y` (reference layout/osm.py). */
  def osmPath(z: Column, x: Column, y: Column): Column =
    concat_ws("/", z, x, y)

  /** TileCache disk path `zz/xxx/xxx/xxx/yyy/yyy/yyy`
    * (reference layout/tilecache.py). */
  def tileCachePath(z: Column, x: Column, y: Column): Column = {
    val xs = lpad(x.cast("string"), 9, "0")
    val ys = lpad(y.cast("string"), 9, "0")
    concat_ws(
      "/",
      lpad(z.cast("string"), 2, "0"),
      substring(xs, 1, 3), substring(xs, 4, 3), substring(xs, 7, 3),
      substring(ys, 1, 3), substring(ys, 4, 3), substring(ys, 7, 3))
  }

  /** FreeTileGrid point -> tile assignment as pure Column math
    * (reference grid/free.py:96-112): the per-z resolution is an
    * `element_at` over a literal array, so the whole expression stays in
    * codegen with no UDF and no join against a resolutions table.
    * Bit-identical to `FreeTileGrid.tilecoord` (same IEEE op order). */
  def freeTileOfPointX(px: Column, z: Column, grid: FreeTileGrid): Column = {
    val res = element_at(lit(grid.resolutions.toArray), z.cast("int") + 1)
    floor(lit(grid.scale) * (px - lit(grid.maxExtent.minX)) / (res * lit(grid.tileSize)))
  }

  def freeTileOfPointY(py: Column, z: Column, grid: FreeTileGrid): Column = {
    val res = element_at(lit(grid.resolutions.toArray), z.cast("int") + 1)
    val ty0 = lit(grid.scale) * (py - lit(grid.maxExtent.minY)) / (res * lit(grid.tileSize))
    val ty =
      if (grid.flipY) ty0
      else lit(grid.scale * grid.maxExtent.height) / (lit(grid.tileSize) * res) - ty0
    floor(ty)
  }

  /** WMS GetMap URL as pure column concat (reference layout/wms.py:7-53
    * — matches core.WMSTileLayout.filename exactly, cross-checked by
    * TileFunctionsSpec): the static query params are URL-encoded
    * driver-side once; only the BBOX (and any per-row dimension values)
    * vary per row. BBOX is built with `format_string("%f")` — the same
    * java.util.Formatter the core layout uses. One-way, like the
    * reference.
    *
    * `dimensionNames` + `metadata` mirror the core's `dimension_*`
    * metadata handling: each named dimension reads its per-row value
    * from `metadata['dimension_<name>']` and is URL-encoded in place.
    * Names that collide with base params are rejected (the core would
    * override in place; a column plan fixes parameter order at build
    * time, so overriding is not expressible — and never used). */
  def wmsUrl(
      layout: graft.core.WMSTileLayout,
      z: Column,
      x: Column,
      y: Column,
      n: Int = 1,
      dimensionNames: Seq[String] = Nil,
      metadata: Column = lit(null)): Column = {
    val grid = layout.grid match {
      case g: QuadTileGrid => g
      case g =>
        throw new IllegalArgumentException(
          s"wmsUrl column form supports quad grids, got $g")
    }
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val baseKeys = layout.baseParams.map(_._1).toSet
    require(
      dimensionNames.forall(d => !baseKeys.contains(d)),
      s"dimension names colliding with base params: " +
        dimensionNames.filter(baseKeys.contains).mkString(","))
    val prefix = layout.url + "?" +
      layout.baseParams.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    // per-row dimension params, in name order after the base params —
    // the same position the core's LinkedHashMap append produces
    val dimCols: Seq[Column] = dimensionNames.flatMap { d =>
      Seq(
        lit(s"&${enc(d)}="),
        url_encode(element_at(metadata, s"dimension_$d")))
    }
    val size = (n * grid.tileSize + 2 * layout.border).toInt
    val suffix = s"&WIDTH=$size&HEIGHT=$size"
    val Seq(minx, miny, maxx, maxy) =
      tileExtent(z, x, y, lit(n.toLong), layout.border.toDouble, grid)
    concat(
      (lit(prefix) +: dimCols) ++ Seq(
        lit("&BBOX="),
        // the comma is URL-encoded to %2C, as URLEncoder does in the core
        format_string("%f%%2C%f%%2C%f%%2C%f", minx, miny, maxx, maxy),
        lit(suffix)): _*)
  }

  /** WMTS GetTile URL for a full core layout — KVP or REST encoding,
    * with `dimension_*` metadata parameters read per row from a map
    * column (reference layout/wmts.py:30-63; bit-exact vs
    * core.WMTSTileLayout.filename, cross-checked by TileFunctionsSpec).
    * The core's values are NOT URL-encoded (matching the reference);
    * `tileMatrix` must be the default z.toString form — a custom
    * matrix-name function is driver-side logic, not a column. */
  def wmtsUrl(
      layout: graft.core.WMTSTileLayout,
      z: Column,
      x: Column,
      y: Column,
      metadata: Column = lit(null)): Column = {
    val dims = layout.dimensionsName
    if (layout.requestEncoding == "KVP") {
      val base = if (layout.url.nonEmpty && layout.url.last == '?') layout.url
        else layout.url + "?"
      val head = lit(
        s"${base}Service=WMTS&Request=GetTile&Format=${layout.format}" +
          s"&Version=1.0.0&Layer=${layout.layer}&Style=${layout.style}")
      val dimCols = dims.flatMap { d =>
        Seq(lit(s"&$d="), element_at(metadata, s"dimension_$d"))
      }
      concat(
        (head +: dimCols) ++ Seq(
          lit(s"&TileMatrixSet=${layout.tileMatrixSet}&TileMatrix="),
          z.cast("string"),
          lit("&TileRow="), y.cast("string"),
          lit("&TileCol="), x.cast("string")): _*)
    } else {
      val base =
        if (layout.url.nonEmpty && layout.url.last != '/') layout.url + "/"
        else layout.url
      val head = lit(s"${base}1.0.0/${layout.layer}/${layout.style}/")
      val dimCols = dims.flatMap { d =>
        Seq(element_at(metadata, s"dimension_$d"), lit("/"))
      }
      concat(
        (head +: dimCols) ++ Seq(
          lit(s"${layout.tileMatrixSet}/"),
          z.cast("string"), lit("/"),
          y.cast("string"), lit("/"),
          x.cast("string"), lit(layout.format)): _*)
    }
  }

  /** WMTS GetTile KVP URL as pure column concat (reference
    * layout/wmts.py:6-63; the no-dimensions KVP form — matches
    * core.WMTSTileLayout.filename, cross-checked by TileFunctionsSpec).
    * Codegen string building: enumerate a billion tile URLs without a
    * UDF in the path. */
  def wmtsKvpUrl(
      url: String,
      layer: String,
      style: String,
      format: String,
      tileMatrixSet: String,
      z: Column,
      x: Column,
      y: Column): Column = {
    // match core.WMTSTileLayout exactly: an EMPTY base url still gets
    // the "?" (relative query-only URLs), only a trailing "?" is kept
    val base = if (url.nonEmpty && url.last == '?') url else url + "?"
    concat(
      lit(s"${base}Service=WMTS&Request=GetTile&Format=$format" +
        s"&Version=1.0.0&Layer=$layer&Style=$style" +
        s"&TileMatrixSet=$tileMatrixSet&TileMatrix="),
      z.cast("string"),
      lit("&TileRow="), y.cast("string"),
      lit("&TileCol="), x.cast("string"))
  }
}
