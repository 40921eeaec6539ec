package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Quadkey / quadtree-cell codecs as native codegen-capable Catalyst
  * expressions. The quadkey digit stream is the reference's I3D quadcode
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

/** `tc_quadkey(z, x, y)` — quadkey string, codegen-capable. */
case class QuadKeyExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  // callers (TileFunctions.quadkey / the registry wrapper) cast inputs
  // to (INT, BIGINT, BIGINT)
  override def dataType: DataType = StringType

  override protected def nullSafeEval(z: Any, x: Any, y: Any): Any =
    UTF8String.fromString(
      TileCodecs.quadkey(
        z.asInstanceOf[Int],
        x.asInstanceOf[Long],
        y.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (z, x, y) =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.sql.TileCodecs.quadkey($z, $x, $y))")

  override protected def withNewChildrenInternal(
      f: Expression,
      s: Expression,
      t: Expression): Expression = copy(f, s, t)
}

/** `tc_cellid(z, x, y)` — 64-bit Z-order cell id, codegen-capable. */
case class CellIdExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(z: Any, x: Any, y: Any): Any =
    TileCodecs.cellId(
      z.asInstanceOf[Int],
      x.asInstanceOf[Long],
      y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (z, x, y) => s"graft.sql.TileCodecs.cellId($z, $x, $y)")

  override protected def withNewChildrenInternal(
      f: Expression,
      s: Expression,
      t: Expression): Expression = copy(f, s, t)
}

/** `tc_cellz(cell)` — zoom level of a Z-order cell id (sentinel-bit
  * position / 2). */
case class CellZExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override protected def nullSafeEval(cell: Any): Any =
    TileCodecs.cellZ(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.TileCodecs.cellZ($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `tc_cellx(cell)` — de-interleaved x of a Z-order cell id. */
case class CellXExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(cell: Any): Any =
    TileCodecs.cellX(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.TileCodecs.cellX($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `tc_celly(cell)` — de-interleaved y of a Z-order cell id. */
case class CellYExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(cell: Any): Any =
    TileCodecs.cellY(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.TileCodecs.cellY($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `tc_hilbert(z, x, y)` — Hilbert-curve cell id (locality-preserving
  * physical-layout key; see [[TileCodecs.hilbertId]]). */
case class HilbertIdExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(z: Any, x: Any, y: Any): Any =
    TileCodecs.hilbertId(
      z.asInstanceOf[Int],
      x.asInstanceOf[Long],
      y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (z, x, y) => s"graft.sql.TileCodecs.hilbertId($z, $x, $y)")

  override protected def withNewChildrenInternal(
      f: Expression,
      s: Expression,
      t: Expression): Expression = copy(f, s, t)
}

/** `tc_hilbertx(cell)` — x of a Hilbert cell id (the zoom comes from
  * the shared sentinel, so `tc_cellz` reads it). */
case class HilbertXExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(cell: Any): Any =
    TileCodecs.hilbertX(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.TileCodecs.hilbertX($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `tc_hilberty(cell)` — y of a Hilbert cell id. */
case class HilbertYExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(cell: Any): Any =
    TileCodecs.hilbertY(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.TileCodecs.hilbertY($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
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
      as: Array[Long],
      bs: Array[Long],
      p: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
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

/** `sorted_intersect_count(a, b)` — |a ∩ b| for value-sorted long arrays
  * with DISTINCT, NON-NULL elements; codegen-capable. Inputs are
  * type-checked as ARRAY<BIGINT> at analysis (int-element arrays would
  * stride-read garbage through ArrayData.getLong); a null slot throws
  * at runtime instead of silently reading as 0. PRECONDITION
  * (documented contract, not checked per row): both arrays
  * ascending-sorted with distinct elements — e.g.
  * `sort_array(collect_set(...))`; unsorted or duplicate inputs return
  * counts that differ from `array_intersect` semantics. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(
      org.apache.spark.sql.types.ArrayType(LongType),
      org.apache.spark.sql.types.ArrayType(LongType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.sortedIntersectCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.sql.ArrayKernels.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression,
      r: Expression): Expression = copy(l, r)
}

/** `minhash_sig(shingles)` — ArrayType(LongType) signature of length k. */
case class MinHashSigExpr(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.ArrayType

  private lazy val coeffs: (Array[Long], Array[Long]) = {
    val c = graft.dedup.Dedup.minhashCoeffs(k)
    (c.map(_._1).toArray, c.map(_._2).toArray)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(shingles: Any): Any =
    MinHashKernel.signature(
      shingles.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      coeffs._1,
      coeffs._2,
      graft.dedup.Dedup.MinhashPrime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", coeffs._1, "long[]")
    val bsRef = ctx.addReferenceObj("bs", coeffs._2, "long[]")
    defineCodeGen(ctx, ev, s =>
      s"graft.sql.MinHashKernel.signature($s, $asRef, $bsRef, " +
        s"${graft.dedup.Dedup.MinhashPrime}L)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
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
    type Build = Seq[Expression] => Expression
    def zxy(f: (Expression, Expression, Expression) => Expression): Build =
      e => f(Cast(e(0), IntegerType), Cast(e(1), LongType), Cast(e(2), LongType))
    def cell(f: Expression => Expression): Build = e => f(Cast(e(0), LongType))
    Seq(
      "tc_quadkey" -> zxy(QuadKeyExpr(_, _, _)),
      "tc_cellid" -> zxy(CellIdExpr(_, _, _)),
      "tc_hilbert" -> zxy(HilbertIdExpr(_, _, _)),
      "tc_cellz" -> cell(CellZExpr(_)),
      "tc_cellx" -> cell(CellXExpr(_)),
      "tc_celly" -> cell(CellYExpr(_)),
      "tc_hilbertx" -> cell(HilbertXExpr(_)),
      "tc_hilberty" -> cell(HilbertYExpr(_)),
      "tc_sorted_intersect_count" ->
        ((e: Seq[Expression]) => SortedIntersectCountExpr(e(0), e(1))),
      "tc_minhash_sig" ->
        ((e: Seq[Expression]) => MinHashSigExpr(e(0), literalInt(e, 1, 16))))
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
