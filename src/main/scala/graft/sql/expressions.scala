package graft.sql

import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.unsafe.types.UTF8String

/** Quadkey / quadtree-cell codecs, called from Catalyst through the
  * [[Kernel]] builders. The quadkey digit stream is the reference's I3D quadcode
  * (reference layout/i3d.py:25-43) — the engine's hierarchical cell index
  * (S2/H3 analogue): prefix containment equals spatial containment, and
  * the interleaved bits give a Z-order (Morton) key for range
  * partitioning.
  */
object TileCodecs {
  /** Quadkey string of length z, most significant level first. */
  def quadkey(z: Int, x: Long, y: Long): String = {
    val chars = new Array[Char](z)
    var xx = x
    var yy = y
    var i = z - 1
    while (i >= 0) {
      chars(i) = ('0' + ((xx & 1L) + ((yy & 1L) << 1))).toChar
      xx >>= 1
      yy >>= 1
      i -= 1
    }
    new String(chars)
  }

  /** [[quadkey]] as the Catalyst string a kernel call returns. */
  def quadkeyUtf8(z: Int, x: Long, y: Long): UTF8String =
    UTF8String.fromString(quadkey(z, x, y))

  /** 64-bit quadtree cell id: Morton-interleaved (y,x) bits prefixed by a
    * sentinel 1-bit so ids of different zooms never collide:
    * `(1 << 2z) | interleave(x, y)`. Works for z <= 31. Children of a
    * cell occupy the contiguous range `[c << 2, (c << 2) + 4)` — ancestor
    * containment is a range/prefix test, the basis for cell-range joins
    * and kNN ring expansion. */
  def cellId(z: Int, x: Long, y: Long): Long = {
    var m = 0L
    var i = 0
    while (i < z) {
      m |= ((x >> i) & 1L) << (2 * i)
      m |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    (1L << (2 * z)) | m
  }

  /** Inverse of [[cellId]]: (z, x, y). */
  def cellIdToCoord(cell: Long): (Int, Long, Long) =
    (cellZ(cell), cellX(cell), cellY(cell))

  def cellZ(cell: Long): Int =
    (63 - java.lang.Long.numberOfLeadingZeros(cell)) / 2

  /** De-interleaved x of a cell id (even Morton bits below the
    * sentinel). */
  def cellX(cell: Long): Long = {
    val z = cellZ(cell)
    var x = 0L
    var i = 0
    while (i < z) {
      x |= ((cell >> (2 * i)) & 1L) << i
      i += 1
    }
    x
  }

  /** De-interleaved y of a cell id (odd Morton bits). */
  def cellY(cell: Long): Long = {
    val z = cellZ(cell)
    var y = 0L
    var i = 0
    while (i < z) {
      y |= ((cell >> (2 * i + 1)) & 1L) << i
      i += 1
    }
    y
  }

  /** Hilbert-curve cell id: the distance d along the level-z Hilbert
    * curve through the 2^z × 2^z tile grid, under the same zoom
    * sentinel as [[cellId]]: `(1 << 2z) | d` (ids of different zooms
    * never collide, and [[cellZ]] reads the zoom of both key kinds).
    *
    * This is the S2-style alternative to the Morton [[cellId]]: the
    * curve visits grid-ADJACENT tiles at every consecutive step, so
    * any contiguous id range is a CONNECTED region of the map —
    * range-partitioning 10^12 rows by this key gives every partition
    * a compact spatial footprint (Morton's quadrant seams put
    * half-world jumps inside a range, so a Z-order partition can
    * straddle two far-apart blobs and a kNN ring probe touches more
    * partitions than it should). The cost of the locality is
    * hierarchy: unlike Morton, parent/child is NOT a bit-shift, so
    * keep [[cellId]]/quadkey for containment joins and use this key
    * for physical layout (sort/range-partition columns).
    * Standard xy→d state machine (public domain; Hamilton's compact
    * Hilbert indices / Wikipedia formulation). Works for z <= 31. */
  def hilbertId(z: Int, x: Long, y: Long): Long = {
    var xx = x
    var yy = y
    var d = 0L
    // z=0 must skip the loop; 1L << -1 would wrap to 1L << 63
    var s = if (z == 0) 0L else 1L << (z - 1)
    while (s > 0L) {
      val rx = if ((xx & s) != 0L) 1L else 0L
      val ry = if ((yy & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          xx = s - 1L - xx
          yy = s - 1L - yy
        }
        val t = xx; xx = yy; yy = t
      }
      s >>= 1
    }
    (1L << (2 * z)) | d
  }

  /** Inverse of [[hilbertId]]: (z, x, y) from a sentinel-prefixed
    * Hilbert cell id. */
  def hilbertToCoord(cell: Long): (Int, Long, Long) = {
    val z = cellZ(cell)
    var t = cell ^ (1L << (2 * z)) // strip the sentinel → curve distance
    var xx = 0L
    var yy = 0L
    var s = 1L
    val n = 1L << z
    while (s < n) {
      val rx = 1L & (t >> 1)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) {
          xx = s - 1L - xx
          yy = s - 1L - yy
        }
        val tm = xx; xx = yy; yy = tm
      }
      xx += s * rx
      yy += s * ry
      t >>= 2
      s <<= 1
    }
    (z, xx, yy)
  }

  def hilbertX(cell: Long): Long = hilbertToCoord(cell)._2
  def hilbertY(cell: Long): Long = hilbertToCoord(cell)._3
}

/** MinHash signature kernel: md5-derived 32-bit base hash per shingle,
  * k universal hashes `(a_j * h + b_j) mod p`, element-wise minimum —
  * all in one tight loop per row (the declarative fold allocates a k-array
  * per shingle; this does not). Arithmetic matches the SQL oracle:
  * `CAST(('0x' || substr(md5(s),1,8)) AS BIGINT)`.
  */
object MinHashKernel {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** First 8 md5 hex digits of the UTF-8 bytes as an unsigned 32-bit value. */
  def hash32(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  def signature(
      shingles: org.apache.spark.sql.catalyst.util.ArrayData,
      c: MinHashCoeffs): org.apache.spark.sql.catalyst.util.ArrayData = {
    val as = c.as; val bs = c.bs; val p = c.p
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h = hash32(shingles.getUTF8String(i).getBytes)
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** The k MinHash hash coefficients as one kernel parameter: value
  * equality over `k`, the arrays derived once from
  * [[graft.dedup.Dedup.minhashCoeffs]]. */
final case class MinHashCoeffs(k: Int) {
  private val coeffs = graft.dedup.Dedup.minhashCoeffs(k)
  val as: Array[Long] = coeffs.map(_._1).toArray
  val bs: Array[Long] = coeffs.map(_._2).toArray
  val p: Long = graft.dedup.Dedup.MinhashPrime
}

/** Sorted-array set kernels for near-dup verification: merge-walk
  * intersection count over two value-sorted LongType arrays — O(|a|+|b|)
  * with zero per-row allocation (the built-in `array_intersect` builds a
  * hash set and materializes the intersection array per row; on the
  * candidate-verification hot path that is all garbage).
  */
object ArrayKernels {
  def sortedIntersectCount(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      // a null slot would read as 0 through getLong and silently skew
      // the count — fail loudly instead (one predictable branch per
      // step; the merge walk stays allocation-free)
      if (a.isNullAt(i) || b.isNullAt(j))
        throw new IllegalArgumentException(
          "sorted_intersect_count: null array element (arrays must be " +
            "ascending-sorted, distinct, non-null)")
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va == vb) { c += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    c
  }
}

object TileExpressions {
  /** Second argument as a literal Int with a default — for SQL-facing
    * expression builders whose parameter must be plan-time constant. */
  def literalInt(exprs: Seq[Expression], idx: Int, default: Int): Int =
    if (exprs.length <= idx) default
    else exprs(idx) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other =>
        throw new IllegalArgumentException(
          s"argument ${idx + 1} must be an integer literal, got $other")
    }

  /** Every engine SQL function as one `(name, builder)` table, read by
    * both registration paths: `register` on a live session and
    * [[GraftExtensions]] for `spark.sql.extensions` sessions. The
    * cell-id readers ship with the writers: a session that wrote
    * tc_cellid/tc_hilbert keys needs tc_cellz/x/y and the hilbert
    * inverses to read them back. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = {
    import GraftColumnBridge.{column, expression}
    def sql(f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)
        : Seq[Expression] => Expression = e => expression(f(e.map(column)))
    Seq(
      "tc_quadkey" -> sql(c => Kernel.quadkey(c(0), c(1), c(2))),
      "tc_cellid" -> sql(c => Kernel.cellId(c(0), c(1), c(2))),
      "tc_hilbert" -> sql(c => Kernel.hilbertId(c(0), c(1), c(2))),
      "tc_cellz" -> sql(c => Kernel.cellZ(c(0))),
      "tc_cellx" -> sql(c => Kernel.cellX(c(0))),
      "tc_celly" -> sql(c => Kernel.cellY(c(0))),
      "tc_hilbertx" -> sql(c => Kernel.hilbertX(c(0))),
      "tc_hilberty" -> sql(c => Kernel.hilbertY(c(0))),
      "tc_sorted_intersect_count" -> sql(c => Kernel.sortedIntersectCount(c(0), c(1))),
      "tc_minhash_sig" ->
        (e => expression(Kernel.minhashSig(column(e(0)), literalInt(e, 1, 16)))))
  }

  /** Register [[functions]] in the session's function registry so they
    * are usable from SQL and `call_function`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
