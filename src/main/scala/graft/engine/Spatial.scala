package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CellIndex

/** Point-in-polygon joins — the vector half of raster↔vector tile
  * assignment (SURVEY.md §2.6: the reference's point→tile kernel
  * grid/quad.py:78-83 assigns points to CELLS; this module assigns
  * points to arbitrary POLYGONS by cell-prefiltered exact test).
  *
  * Two layers, both declarative:
  *
  *  1. [[pointInPolygon]] — even-odd ray casting as a codegen column
  *     expression over an `array<struct<x,y>>` vertex column. The
  *     vertex arrays ride the row, so the test works for ANY polygon —
  *     convex, concave, per-row different.
  *
  *  2. [[join]] — the scale shape. A naive points×polygons test is a
  *     cartesian product (10^12 × 10^6 = game over). Instead both sides
  *     meet on a [[graft.core.CellIndex]] — the quadtree grid at a zoom
  *     over a declared planar extent, or the hex grid at a size — as the
  *     reference's operators meet on one abstract TileGrid. Points map
  *     to their single containing cell ([[cellOf]]), polygons explode to
  *     their [[tightCover]], and the join is a plain equi-join on the
  *     cell id — shuffles on cell, AQE handles skew (or compose
  *     Skew.saltedJoin for a pathological hot cell), then the exact ray
  *     cast refines. Each point owns exactly one cell, so a (point,
  *     polygon) pair can meet at most once — no post-join dedup. The
  *     index is the only thing that differs between the quad join (q68)
  *     and the hex join (q74).
  *
  * Resolution tuning is the classic space-filling-index tradeoff: finer
  * cells → more cells per polygon (explode cost), coarser → more false
  * candidates per cell (refine cost). The right setting makes mean cell
  * occupancy a small constant; polygons far larger than a cell should
  * be range-partitioned by cell instead of broadcast.
  */
object Spatial {

  /** Even-odd (ray-cast) containment of (px, py) in the polygon given
    * by `vertices: array<struct<x:double, y:double>>` (implicitly
    * closed; no need to repeat the first vertex). Boundary points
    * follow the half-open crossing rule — consistent, but callers
    * with boundary-sensitive data should dilate, as every planar
    * index does. */
  def pointInPolygon(px: Column, py: Column, vertices: Column): Column =
    // codegen kernel loop (graft.sql.SpatialKernels.pointInPolygon):
    // identical edge order and IEEE arithmetic to the former
    // zip_with(rot)/aggregate-XOR HOF form, which was CodegenFallback
    // and built a rotated vertex array + crossing array per candidate
    // row — the dominant refine cost of the cell-prefiltered joins.
    graft.sql.Kernel.pointInPolygon(px.cast("double"), py.cast("double"), vertices)

  /** Cell id of a point at `zoom` over the planar extent
    * (minX, minY, width, height): row-major `cy * 2^z + cx`, clamped
    * to the grid (out-of-extent points land in the border cells; the
    * exact test still decides membership). */
  def cellOfPoint(px: Column, py: Column, zoom: Int,
      minX: Double, minY: Double, width: Double, height: Double): Column = {
    val n = 1L << zoom
    def clamp(c: Column): Column = greatest(lit(0L), least(lit(n - 1), c))
    val cx = clamp(floor((px - minX) / width * n).cast("long"))
    val cy = clamp(floor((py - minY) / height * n).cast("long"))
    cy * n + cx
  }

  /** Cells covering the polygon's bounding box at `zoom` (same
    * row-major ids as [[cellOfPoint]]) — an array column to explode.
    * Pure column math: bbox via `aggregate` min/max over the vertex
    * array, cover via a flattened 2-D `sequence`. */
  def polygonCells(vertices: Column, zoom: Int,
      minX: Double, minY: Double, width: Double, height: Double): Column = {
    val n = 1L << zoom
    def clamp(c: Column): Column = greatest(lit(0L), least(lit(n - 1), c))
    def cellX(v: Column): Column = clamp(floor((v - minX) / width * n).cast("long"))
    def cellY(v: Column): Column = clamp(floor((v - minY) / height * n).cast("long"))
    val x0 = cellX(aggregate(vertices, lit(Double.MaxValue), (m, v) => least(m, v.getField("x"))))
    val x1 = cellX(aggregate(vertices, lit(Double.MinValue), (m, v) => greatest(m, v.getField("x"))))
    val y0 = cellY(aggregate(vertices, lit(Double.MaxValue), (m, v) => least(m, v.getField("y"))))
    val y1 = cellY(aggregate(vertices, lit(Double.MinValue), (m, v) => greatest(m, v.getField("y"))))
    flatten(transform(sequence(y0, y1), cy => transform(sequence(x0, x1), cx => cy * n + cx)))
  }

  /** Vector→raster tile assignment: the cells at `zoom` whose CENTER
    * lies inside the polygon — the center-sample rule every raster
    * burner defaults to, and the exact dual of [[polygonJoin]]'s
    * point test: a point assigned to cell c by [[cellOfPoint]] and a
    * polygon rasterized here agree on membership whenever the point
    * sits at the cell center, so raster- and vector-side assignments
    * compose without seams (up to the shared half-open boundary
    * rule).
    *
    * Scale shape: NO join and NO shuffle — a per-polygon
    * [[tightCover]] explode on the quad index (area-proportional,
    * bounded by the zoom choice) followed by the ray-cast refine of
    * each cell center, so the operator is embarrassingly parallel over
    * polygon rows and pipelines inside one codegen stage. cx/cy are recovered from the
    * row-major id by mask/shift (exact at any zoom; no double
    * division). For a polygon spanning a large share of the grid at a
    * fine zoom, the cover explode is Θ(area/cellArea) rows — by
    * design, since that IS the output size for a filled polygon; if
    * only the boundary is needed, descend hierarchically instead
    * (the [[graft.engine.Pipeline]] BFS-subdivision shape).
    *
    * Output: all polygon columns except the vertex array, + `cx`,
    * `cy` (tile/cell coordinates at `zoom`). */
  def rasterize(
      polygons: DataFrame,
      zoom: Int,
      minX: Double, minY: Double, width: Double, height: Double,
      verticesCol: String = "vertices"): DataFrame = {
    val index = CellIndex.Quad(zoom, minX, minY, width, height)
    // tight cover: lossless for the center refine below — a
    // center-inside cell always passes cellMayIntersect
    polygons
      .withColumn("_cell", explode(tightCover(col(verticesCol), index)))
      .withColumn("cx", col("_cell").bitwiseAND(lit(index.n - 1)))
      .withColumn("cy", shiftright(col("_cell"), zoom))
      .where(pointInPolygon(
        lit(minX) + (col("cx") + lit(0.5)) * lit(index.cellW),
        lit(minY) + (col("cy") + lit(0.5)) * lit(index.cellH),
        col(verticesCol)))
      .drop("_cell", verticesCol)
  }

  /** The cell of a point on `index`: [[cellOfPoint]] on the quad grid,
    * [[hexCellOfPoint]] on the hex grid. */
  def cellOf(px: Column, py: Column, index: CellIndex): Column = index match {
    case CellIndex.Quad(zoom, minX, minY, width, height) =>
      cellOfPoint(px, py, zoom, minX, minY, width, height)
    case CellIndex.Hex(size) => hexCellOfPoint(px, py, size)
  }

  /** The cells of `index` that may hold a point of the polygon, as an
    * array column to explode: the bbox cell range filtered to cells
    * whose center is inside the polygon or whose circumradius reaches
    * its boundary (lossless by the triangle inequality), plus the
    * cells the index always keeps. One codegen kernel loop per polygon
    * ([[graft.sql.SpatialKernels.tightCover]]). */
  def tightCover(vertices: Column, index: CellIndex): Column =
    graft.sql.Kernel.tightCover(vertices, index)

  /** Every cell of `index` in the polygon's bbox cell range: the
    * interpreted reference covers [[polygonCells]] and [[hexCover]],
    * which [[tightCover]] refines. */
  def bboxCover(vertices: Column, index: CellIndex): Column = index match {
    case CellIndex.Quad(zoom, minX, minY, width, height) =>
      polygonCells(vertices, zoom, minX, minY, width, height)
    case CellIndex.Hex(size) => hexCover(vertices, size)
  }

  /** The scalable point-in-polygon join: every (point row, polygon
    * row) pair where the point lies inside the polygon. `points`
    * needs double columns `pxCol`/`pyCol`; `polygons` needs
    * `verticesCol: array<struct<x,y>>`. Points meet polygons on
    * `index`'s cell id; the output does not depend on the index.
    * Output: all point columns + all polygon columns except the vertex
    * array. */
  def join(
      points: DataFrame,
      polygons: DataFrame,
      index: CellIndex,
      pxCol: String = "px",
      pyCol: String = "py",
      verticesCol: String = "vertices"): DataFrame = {
    val p = points.withColumn("_cell", cellOf(col(pxCol), col(pyCol), index))
    val g = polygons.withColumn("_cell", explode(tightCover(col(verticesCol), index)))
    p.join(g, "_cell")
      .where(pointInPolygon(col(pxCol), col(pyCol), col(verticesCol)))
      .drop("_cell", verticesCol)
  }

  /** [[join]] on the quad grid at `zoom` over the extent. */
  def polygonJoin(
      points: DataFrame,
      polygons: DataFrame,
      zoom: Int,
      minX: Double, minY: Double, width: Double, height: Double,
      pxCol: String = "px",
      pyCol: String = "py",
      verticesCol: String = "vertices"): DataFrame =
    join(points, polygons, CellIndex.Quad(zoom, minX, minY, width, height),
      pxCol, pyCol, verticesCol)

  /** [[join]] on the hex grid of circumradius `size`. */
  def hexPolygonJoin(
      points: DataFrame,
      polygons: DataFrame,
      size: Double,
      pxCol: String = "px",
      pyCol: String = "py",
      verticesCol: String = "vertices"): DataFrame =
    join(points, polygons, CellIndex.Hex(size), pxCol, pyCol, verticesCol)

  // ---------------------------------------------------------------------
  // Hexagonal cell index — the H3-style planar analogue.
  //
  // The quadtree ids above (cellOfPoint / quadkey / hilbertId) cover the
  // S2 half of BASELINE.json's "H3/S2 cell index" obligation: square
  // cells on a space-filling curve. H3's pitch is different geometry —
  // hexagons have a SINGLE neighbor class (6 edge neighbors, all at the
  // same center distance), so distance-ring expansion (kNN candidate
  // search, smoothing kernels) has none of the corner-vs-edge anisotropy
  // of square grids, where the 8 neighbors sit at two different
  // distances. This block is the standard axial-coordinate hex math
  // (pointy-top hexagons, cube rounding) as pure column expressions —
  // one codegen'd expression per point, no UDF, no join, no shuffle —
  // so a hex id is as cheap a join/partition key as the quad cell id.
  //
  // All expressions are written in the exact same IEEE operation order
  // the DuckDB oracle uses (q72), so the two engines agree bit-for-bit
  // on every rounding decision — the same discipline as the q68 ray
  // cast.

  import CellIndex.{C1 => HexC1, C2 => HexC2, C3 => HexC3, HexOff}

  /** Axial (q, r) hex coordinates of a point on the pointy-top hex grid
    * with circumradius `size` (hex centers at distance size*sqrt(3)
    * horizontally): fractional axial transform then cube rounding —
    * round each cube coordinate, then fix the one with the largest
    * rounding error so q + r + s == 0 stays exact. Both outputs are
    * LONG columns. */
  def hexAxial(px: Column, py: Column, size: Double): (Column, Column) = {
    val qf = (lit(HexC1) * px - lit(HexC2) * py) / lit(size)
    val rf = (lit(HexC3) * py) / lit(size)
    val yf = -qf - rf // the third cube coordinate; qf + yf + rf == 0
    val rx = floor(qf + lit(0.5))
    val ry = floor(yf + lit(0.5))
    val rz = floor(rf + lit(0.5))
    val dx = abs(rx - qf)
    val dy = abs(ry - yf)
    val dz = abs(rz - rf)
    val fixQ = dx > dy && dx > dz
    val q = when(fixQ, -ry - rz).otherwise(rx).cast("long")
    val r = when(!fixQ && !(dy > dz), -rx - ry).otherwise(rz).cast("long")
    (q, r)
  }

  /** Single-long hex cell id from axial (q, r): both offset by 2^20 and
    * packed at 21 bits. Valid for |q|, |r| < 2^20 — at any practical
    * `size` that is a planar extent ~10^6 hexes across. */
  def hexPack(q: Column, r: Column): Column =
    (q + lit(HexOff)) * lit(2097152L) + (r + lit(HexOff))

  def hexQ(cell: Column): Column = shiftright(cell, 21) - lit(HexOff)
  def hexR(cell: Column): Column = cell.bitwiseAND(lit(2097151L)) - lit(HexOff)

  /** The point→hex-cell kernel, packed: the hex analogue of
    * [[cellOfPoint]] and the engine's H3-style join/partition key.
    * One codegen kernel call per point (graft.sql.SpatialKernels
    * .hexCell — same IEEE order as [[hexAxial]] + [[hexPack]], which
    * as a composed Column expands to a ~20x-repeated expression tree:
    * the cube-rounding conditionals defeat expression CSE). */
  def hexCellOfPoint(px: Column, py: Column, size: Double): Column =
    graft.sql.Kernel.hexCell(px.cast("double"), py.cast("double"), size)

  /** Center of the hex cell in plane coordinates — the inverse of
    * [[hexCellOfPoint]] up to cell quantization (center maps back to
    * its own cell; HexSpec proves the round-trip). */
  def hexCenterX(cell: Column, size: Double): Column =
    lit(size) * (lit(math.sqrt(3.0)) * hexQ(cell) +
      lit(math.sqrt(3.0) / 2.0) * hexR(cell))
  def hexCenterY(cell: Column, size: Double): Column =
    lit(size) * lit(1.5) * hexR(cell)

  /** All hex cells within `k` rings of `cell` (inclusive of the cell
    * itself): the hex-distance ball |dq|, |dr|, |dq+dr| <= k, exactly
    * 1 + 3k(k+1) cells, as an array column to explode. This is the
    * candidate generator for hex-indexed kNN: explode the query side
    * by its k-disk, equi-join on the cell id against the corpus side
    * ([[graft.engine.SpatialKnn]]'s ring-expansion shape on the quad
    * grid), refine by exact distance — every candidate within
    * ring-distance k is guaranteed in the disk, the pigeonhole the
    * expansion relies on. Pure `sequence`/`transform` HOF math. */
  def hexDisk(cell: Column, k: Int): Column = {
    val q = hexQ(cell)
    val r = hexR(cell)
    flatten(transform(sequence(lit(-k), lit(k)), dq =>
      transform(
        sequence(greatest(lit(-k), -dq - lit(k)), least(lit(k), -dq + lit(k))),
        dr => hexPack(q + dq, r + dr))))
  }

  /** Hex cells covering the polygon's bounding box (plus a one-ring
    * margin) — the hex analogue of [[polygonCells]], an array column
    * to explode. The xy bbox maps to a PARALLELOGRAM in axial (q, r)
    * space (q depends on both x and y), so the cover iterates the
    * axial ranges of the bbox corners widened by one ring: a strict
    * superset of every hex intersecting the bbox, which is all a
    * join prefilter needs — the exact ray cast above the join decides
    * membership, so cover slack costs candidates, never correctness
    * (HexSpec: join output equals the naive cross join). The slack
    * factor vs a tight cover is bounded by the parallelogram shear
    * (~2x for squarish bboxes); same area-proportional explode
    * economics as the quad cover. */
  def hexCover(vertices: Column, size: Double): Column = {
    val xMin = aggregate(vertices, lit(Double.MaxValue), (m, v) => least(m, v.getField("x")))
    val xMax = aggregate(vertices, lit(Double.MinValue), (m, v) => greatest(m, v.getField("x")))
    val yMin = aggregate(vertices, lit(Double.MaxValue), (m, v) => least(m, v.getField("y")))
    val yMax = aggregate(vertices, lit(Double.MinValue), (m, v) => greatest(m, v.getField("y")))
    // axial extremes of the bbox corners: q grows with x and shrinks
    // with y; r grows with y only
    def qOf(x: Column, y: Column): Column =
      floor((lit(HexC1) * x - lit(HexC2) * y) / lit(size))
    def rOf(y: Column): Column = floor((lit(HexC3) * y) / lit(size))
    val q0 = qOf(xMin, yMax) - lit(1)
    val q1 = qOf(xMax, yMin) + lit(1)
    val r0 = rOf(yMin) - lit(1)
    val r1 = rOf(yMax) + lit(1)
    flatten(transform(sequence(q0.cast("long"), q1.cast("long")), q =>
      transform(sequence(r0.cast("long"), r1.cast("long")), r => hexPack(q, r))))
  }
}
