package graft.core

/** The cell index behind the point-in-polygon join
  * ([[graft.engine.Spatial.join]]): the planar grid both sides meet on.
  * Points map to the one cell that holds them; polygons explode to the
  * cells that may hold one of their points; the join is an equi-join on
  * the packed cell id. The cases differ only in geometry, which this
  * type owns and nothing else repeats:
  *
  *  - the integer cell range a polygon's bounding box spans;
  *  - a cell's center and circumradius (every point of the cell lies
  *    within the radius of its center);
  *  - the packed long id of a cell;
  *  - cells every cover keeps, whatever the polygon.
  *
  * A cell is addressed by two integer coordinates `(a, b)`, and a cover
  * enumerates its range `a` outer, `b` inner. The arithmetic is written
  * in the same IEEE operation order as the column forms in
  * [[graft.engine.Spatial]] (cellOfPoint / polygonCells, hexAxial /
  * hexCover), so the kernel and the columns agree on every rounding.
  * Plain Scala: the codegen cover kernel calls it per cell. */
sealed trait CellIndex extends Product with Serializable {

  /** The cells covering the bbox `[xMin, xMax] x [yMin, yMax]`: `a`
    * from `a0` to `a1`, `b` from `b0` to `b1`, all inclusive. */
  def range(xMin: Double, yMin: Double, xMax: Double, yMax: Double): CellIndex.Range

  def centerX(a: Long, b: Long): Double
  def centerY(a: Long, b: Long): Double

  /** Circumradius: the largest distance from a cell's center to a point
    * of the cell. */
  def radius: Double

  def id(a: Long, b: Long): Long

  /** True for cells a cover keeps without testing them. */
  def alwaysKept(a: Long, b: Long): Boolean
}

object CellIndex {

  final case class Range(a0: Long, a1: Long, b0: Long, b1: Long)

  /** The quadtree grid at `zoom` over the planar extent (minX, minY,
    * width, height): `a` is the row `cy`, `b` the column `cx`, id the
    * row-major `cy * 2^zoom + cx`. Coordinates clamp to the grid, so
    * out-of-extent points land in the border cells; their effective
    * region is unbounded, so every cover keeps them. */
  final case class Quad(zoom: Int, minX: Double, minY: Double, width: Double, height: Double)
      extends CellIndex {
    val n: Long = 1L << zoom
    val cellW: Double = width / n
    val cellH: Double = height / n
    val radius: Double = 0.5 * math.sqrt(cellW * cellW + cellH * cellH)

    private def clamp(c: Long): Long = math.max(0L, math.min(n - 1, c))
    def range(xMin: Double, yMin: Double, xMax: Double, yMax: Double): Range = Range(
      clamp(math.floor((yMin - minY) / height * n).toLong),
      clamp(math.floor((yMax - minY) / height * n).toLong),
      clamp(math.floor((xMin - minX) / width * n).toLong),
      clamp(math.floor((xMax - minX) / width * n).toLong))
    def centerX(cy: Long, cx: Long): Double = minX + (cx + 0.5) * cellW
    def centerY(cy: Long, cx: Long): Double = minY + (cy + 0.5) * cellH
    def id(cy: Long, cx: Long): Long = cy * n + cx
    def alwaysKept(cy: Long, cx: Long): Boolean =
      cx == 0 || cx == n - 1 || cy == 0 || cy == n - 1
  }

  /** The pointy-top hex grid with circumradius `size`: `a` and `b` are
    * the axial `q` and `r`, id both offset by 2^20 and packed at 21 bits
    * (valid for |q|, |r| < 2^20). A bbox maps to a parallelogram in
    * axial space (q depends on x and y), so its range is the axial
    * extremes of the corners widened by one ring for cube rounding. */
  final case class Hex(size: Double) extends CellIndex {
    def radius: Double = size
    def range(xMin: Double, yMin: Double, xMax: Double, yMax: Double): Range = Range(
      math.floor((C1 * xMin - C2 * yMax) / size).toLong - 1,
      math.floor((C1 * xMax - C2 * yMin) / size).toLong + 1,
      math.floor((C3 * yMin) / size).toLong - 1,
      math.floor((C3 * yMax) / size).toLong + 1)
    def centerX(q: Long, r: Long): Double = size * (Sqrt3 * q + Sqrt3 / 2.0 * r)
    def centerY(q: Long, r: Long): Double = size * 1.5 * r
    def id(q: Long, r: Long): Long = hexPack(q, r)
    def alwaysKept(q: Long, r: Long): Boolean = false
  }

  /** sqrt(3)/3, 1/3 and 2/3 of the axial transform, as the literal
    * doubles the DuckDB oracle parses. */
  val C1 = 0.5773502691896258
  val C2 = 0.3333333333333333
  val C3 = 0.6666666666666666
  private val Sqrt3 = math.sqrt(3.0)

  /** Offset of the axial coordinates in a packed hex id. */
  val HexOff = 1048576L

  def hexPack(q: Long, r: Long): Long = (q + HexOff) * 2097152L + (r + HexOff)
}
