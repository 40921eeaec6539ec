package graft.sql

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

import graft.core.CellIndex

/** Every kernel of this package as a Column: one `StaticInvoke` of the
  * plain-Scala kernel method, so interpreted eval, codegen (one static
  * call per row), null propagation (a null input gives a null result)
  * and implicit input casts are Spark's own. The SQL table
  * ([[TileExpressions.functions]]) and the Column API
  * ([[TileFunctions]], `TextOps`, `Dedup`, `Ann`, `Spatial`, `Bpe`)
  * both call these builders. Plans print a call as
  * `static_invoke(graft.sql.<Owner>.<method>(...))`.
  *
  * Scalar parameters travel as literals. A parameter that is not a SQL
  * value ([[CellIndex]], [[MinHashCoeffs]], [[BpeMerges]]) travels as
  * one `ObjectType` literal whose value has value equality, so two
  * equal calls stay semantically equal (subexpression elimination and
  * exchange reuse treat them as one).
  */
object Kernel {

  /** `owner.method(cols ++ params)` as a `dataType = out` column. `in`
    * are the input types of `cols`, cast implicitly at analysis (empty:
    * no checks), or required as they are when `exact`; the literal
    * `params` keep their own types. `nullableResult` for a method that
    * returns a boxed null. */
  private def call(
      owner: AnyRef,
      method: String,
      out: DataType,
      cols: Seq[Column],
      in: Seq[DataType] = Nil,
      params: Seq[Literal] = Nil,
      exact: Boolean = false,
      nullableResult: Boolean = false): Column = {
    val all = if (in.isEmpty) Nil else in ++ params.map(_.dataType)
    val types = if (exact) GraftColumnBridge.exactTypes(all) else all
    GraftColumnBridge.column(StaticInvoke(owner.getClass, out, method,
      cols.map(GraftColumnBridge.expression) ++ params, types, returnNullable = nullableResult))
  }

  private def obj[T <: AnyRef](v: T)(implicit t: ClassTag[T]): Literal =
    Literal(v, ObjectType(t.runtimeClass))

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)

  // tile codecs: (z, x, y) cast to (INT, BIGINT, BIGINT), cells to BIGINT
  private def zxy(method: String, out: DataType, z: Column, x: Column, y: Column): Column =
    call(TileCodecs, method, out, Seq(z.cast("int"), x.cast("long"), y.cast("long")))
  private def cell(method: String, out: DataType, c: Column): Column =
    call(TileCodecs, method, out, Seq(c.cast("long")))

  def quadkey(z: Column, x: Column, y: Column): Column = zxy("quadkeyUtf8", StringType, z, x, y)
  def cellId(z: Column, x: Column, y: Column): Column = zxy("cellId", LongType, z, x, y)
  def hilbertId(z: Column, x: Column, y: Column): Column = zxy("hilbertId", LongType, z, x, y)
  def cellZ(c: Column): Column = cell("cellZ", IntegerType, c)
  def cellX(c: Column): Column = cell("cellX", LongType, c)
  def cellY(c: Column): Column = cell("cellY", LongType, c)
  def hilbertX(c: Column): Column = cell("hilbertX", LongType, c)
  def hilbertY(c: Column): Column = cell("hilbertY", LongType, c)

  /** |a ∩ b| of two ascending-sorted, distinct, non-null arrays
    * ([[ArrayKernels.sortedIntersectCount]]). Inputs cast to
    * ARRAY<BIGINT> at analysis: int elements would stride-read garbage
    * through `ArrayData.getLong`. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call(ArrayKernels, "sortedIntersectCount", IntegerType, Seq(a, b),
      Seq(ArrayType(LongType), ArrayType(LongType)))

  /** MinHash signature of length k over a string-shingle array. */
  def minhashSig(shingles: Column, k: Int): Column =
    call(MinHashKernel, "signature", Longs, Seq(shingles), params = Seq(obj(MinHashCoeffs(k))))

  /** Hex digits [off, off + nibbles) of md5(bin) as a long: exactly
    * `conv(substring(md5(bin), off, nibbles), 16, 10)` (nibbles <= 15). */
  def md5Prefix(bin: Column, nibbles: Int, off: Int = 1): Column = {
    require(nibbles >= 1 && nibbles <= 15, s"nibbles=$nibbles out of [1,15]")
    require(off >= 1 && off - 1 + nibbles <= 32, s"off=$off out of range")
    call(HashKernels, "md5Slice", LongType, Seq(bin), Seq(BinaryType),
      Seq(Literal(off), Literal(nibbles)))
  }

  /** Fused winnowing fingerprints, array<struct<pos, fp>>. */
  def winnowFp(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be positive")
    val fp = StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    call(TextKernels, "winnowFingerprints", ArrayType(fp, containsNull = false),
      Seq(text), Seq(StringType), Seq(Literal(k), Literal(w)))
  }

  def words(text: Column): Column = call(TextKernels, "words", Strings, Seq(text), Seq(StringType))
  def tokenCount(text: Column): Column =
    call(TextKernels, "tokenCount", IntegerType, Seq(text), Seq(StringType))
  def alphaCount(text: Column): Column =
    call(TextKernels, "alphaCount", IntegerType, Seq(text), Seq(StringType))

  /** `size(words(text)) >= n` without building the word array. */
  def wordCountAtLeast(text: Column, n: Int): Column =
    call(TextKernels, "countWordsAtLeast", BooleanType, Seq(text), Seq(StringType), Seq(Literal(n)))

  def simhash60(words: Column): Column = call(TextKernels, "simhash60", LongType, Seq(words))
  def bigrams(words: Column): Column = call(TextKernels, "bigrams", Strings, Seq(words))

  /** hash32 of each word n-gram, deduped row-locally when `distinct`. */
  def shingleHash32(words: Column, n: Int, distinct: Boolean = false): Column = {
    require(n >= 1, s"n=$n must be positive")
    call(TextKernels, "shingleHash32", Longs, Seq(words),
      params = Seq(Literal(n), Literal(distinct)))
  }

  /** MinHash signature of length k over the word n-gram shingles,
    * without building the shingle strings. */
  def minhashSigWords(words: Column, k: Int, n: Int): Column =
    call(TextKernels, "minhashSigWords", Longs, Seq(words),
      params = Seq(Literal(n), obj(MinHashCoeffs(k))))

  // vector kernels: null on a null element or unequal lengths
  private def pair(method: String, out: DataType, el: DataType, a: Column, b: Column): Column =
    call(VecKernels, method, out, Seq(a, b), Seq(ArrayType(el), ArrayType(el)),
      nullableResult = true)
  def dot(a: Column, b: Column): Column = pair("dot", DoubleType, DoubleType, a, b)
  def l2(a: Column, b: Column): Column = pair("l2", DoubleType, DoubleType, a, b)
  def hammingWide(a: Column, b: Column): Column = pair("hammingWide", IntegerType, LongType, a, b)

  /** Even-odd ray cast over double coordinates. The vertex struct must
    * be `x, y`, both double, in that order (the engine's canonical
    * vertex layout): any other layout fails analysis. */
  def pointInPolygon(px: Column, py: Column, vertices: Column): Column = {
    val vertex = StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))
    call(SpatialKernels, "pointInPolygon", BooleanType, Seq(px, py, vertices),
      Seq(DoubleType, DoubleType, ArrayType(vertex)), exact = true)
  }

  /** Packed hex cell id of a point at hex `size`. */
  def hexCell(px: Column, py: Column, size: Double): Column =
    call(SpatialKernels, "hexCell", LongType, Seq(px, py), Seq(DoubleType, DoubleType),
      Seq(Literal(size)))

  /** Tight polygon cover on a cell index, as packed cell ids. */
  def tightCover(vertices: Column, index: CellIndex): Column =
    call(SpatialKernels, "tightCover", Longs, Seq(vertices), params = Seq(obj(index)))

  /** Flattened BPE tokens of a word array for a ranked merge list. */
  def bpeEncode(words: Column, merges: Seq[(String, String)]): Column =
    call(BpeKernel, "encodeTokens", Strings, Seq(words), params = Seq(obj(BpeMerges(merges))))
}
