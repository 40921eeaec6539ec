package graft.core

/** A tile address `(z, x, y, n)`: zoom level, column, row, and meta-tile
  * span (`n x n` block of unit tiles; `n = 1` is a plain tile).
  *
  * Semantics follow the reference tile coordinate
  * (tilecloud/__init__.py:404-486): total ordering by `(n, z, x, y)`,
  * consistent hash `((x / n) << z) ^ (y / n)` (unique per zoom level only),
  * meta-tile snapping, x-major unit-tile explosion, and the `z/x/y` /
  * `z/x/y:+n/+n` string codec.
  */
final case class TileCoord(z: Int, x: Long, y: Long, n: Int = 1)
    extends Ordered[TileCoord] {
  require(n >= 1, s"meta-tile span must be >= 1, got $n")

  override def compare(that: TileCoord): Int = {
    var c = java.lang.Integer.compare(n, that.n)
    if (c == 0) c = java.lang.Integer.compare(z, that.z)
    if (c == 0) c = java.lang.Long.compare(x, that.x)
    if (c == 0) c = java.lang.Long.compare(y, that.y)
    c
  }

  /** Consistent hash, unique per zoom level (reference __init__.py:443-450).
    * Used for `EveryNth`-style sharding. */
  def tcHash: Long = ((x / n) << z) ^ (y / n)

  /** Snap to the enclosing meta-tile of span `metaN`
    * (reference __init__.py:470-471). */
  def metatilecoord(metaN: Int = 8): TileCoord =
    TileCoord(z, metaN * (x / metaN), metaN * (y / metaN), metaN)

  /** Explode into the `n*n` unit tiles, x-major
    * (reference __init__.py:452-456). */
  def unitTiles: Iterator[TileCoord] =
    for {
      i <- Iterator.range(0, n)
      j <- Iterator.range(0, n)
    } yield TileCoord(z, x + i, y + j)

  override def toString: String =
    if (n == 1) s"$z/$x/$y" else s"$z/$x/$y:+$n/+$n"
}

object TileCoord {
  private val Plain = """(\d+)/(\d+)/(\d+)""".r
  private val Meta = """(\d+)/(\d+)/(\d+):\+(\d+)/\+(\d+)""".r

  /** Parse `z/x/y` or `z/x/y:+n/+n` (reference __init__.py:476-482). */
  def fromString(s: String): TileCoord = s match {
    case Plain(z, x, y) => TileCoord(z.toInt, x.toLong, y.toLong)
    case Meta(z, x, y, n1, n2) if n1 == n2 =>
      TileCoord(z.toInt, x.toLong, y.toLong, n1.toInt)
    case _ =>
      throw new IllegalArgumentException(
        s"invalid literal for TileCoord.fromString: $s")
  }
}
