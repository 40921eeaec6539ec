package graft.core

/** A bounded window over a byte array: the one reader behind the
  * from-scratch codecs (SQLite and Berkeley DB pages, MP4 boxes, TIFF
  * IFDs, JPEG segments). Every offset is relative to the window, and
  * every read, sub-window and copy is checked against it first: a read
  * outside the window throws `IllegalArgumentException` naming the
  * offset and the window, so a corrupt length or offset field becomes
  * an error, never a read of the neighbouring structure's bytes or an
  * allocation the input cannot back. Offsets and lengths are `Long`, so
  * a 32-bit field read from the input cannot wrap negative on its way
  * to a check.
  *
  * The byte order is chosen once per slice (`bigEndian`); sub-windows
  * inherit it. The writers (`put*`, [[ByteSlice.pack]]) live here too,
  * so this is the one place that knows the byte orders. Plain Scala. */
final class ByteSlice private (
    private val array: Array[Byte],
    start: Int,
    val length: Int,
    val bigEndian: Boolean) {

  /** The array index of the `n` bytes at `off`, once they are known to
    * lie inside the window. */
  private def at(off: Long, n: Long): Int = {
    if (off < 0 || n < 0 || off > length - n)
      throw new IllegalArgumentException(
        s"$n bytes at offset $off lie outside the $length-byte window at $start of a ${array.length}-byte array")
    start + off.toInt
  }

  /** The `n`-byte unsigned integer at `off` (1 to 8 bytes), in this
    * slice's byte order. */
  private def unsigned(off: Long, n: Int): Long = {
    val i = at(off, n)
    var v = 0L
    var k = 0
    while (k < n) {
      v = (v << 8) | (array(if (bigEndian) i + k else i + n - 1 - k) & 0xffL)
      k += 1
    }
    v
  }

  def u8(off: Long): Int = unsigned(off, 1).toInt
  def u16(off: Long): Int = unsigned(off, 2).toInt
  def u32(off: Long): Long = unsigned(off, 4)
  def u64(off: Long): Long = unsigned(off, 8)

  /** The `n`-byte two's-complement integer at `off` (1 to 8 bytes). */
  def signed(off: Long, n: Int): Long = {
    val shift = 64 - 8 * n
    (unsigned(off, n) << shift) >> shift
  }

  /** The SQLite varint at `off` (big-endian base-128, 1 to 9 bytes;
    * the 9th byte carries 8 bits): (value, bytes consumed). */
  def varint(off: Long): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = u8(off + i)
      v = (v << 7) | (x & 0x7f)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    ((v << 8) | u8(off + 8), 9)
  }

  /** The `len` bytes at `off` as a window of their own. */
  def slice(off: Long, len: Long): ByteSlice =
    new ByteSlice(array, at(off, len), len.toInt, bigEndian)

  /** This window read in the other byte order when `bigEndian` differs. */
  def withOrder(bigEndian: Boolean): ByteSlice =
    if (bigEndian == this.bigEndian) this else new ByteSlice(array, start, length, bigEndian)

  /** A copy of the `len` bytes at `off`; the range is checked before
    * anything is allocated. */
  def bytes(off: Long, len: Long): Array[Byte] = {
    val i = at(off, len)
    java.util.Arrays.copyOfRange(array, i, i + len.toInt)
  }

  /** Copy the `len` bytes at `off` into `dst` at `dstOff`. */
  def copyTo(off: Long, len: Long, dst: Array[Byte], dstOff: Int): Unit =
    System.arraycopy(array, at(off, len), dst, dstOff, len.toInt)

  def string(off: Long, len: Long, charset: String): String =
    new String(array, at(off, len), len.toInt, charset)

  def putU8(off: Long, v: Int): Unit = putUnsigned(off, 1, v.toLong)
  def putU16(off: Long, v: Int): Unit = putUnsigned(off, 2, v.toLong)
  def putU32(off: Long, v: Long): Unit = putUnsigned(off, 4, v)

  /** Write `src` at `off`. */
  def put(off: Long, src: Array[Byte]): Unit =
    System.arraycopy(src, 0, array, at(off, src.length.toLong), src.length)

  private def putUnsigned(off: Long, n: Int, v: Long): Unit = {
    val i = at(off, n)
    var k = 0
    while (k < n) {
      array(if (bigEndian) i + n - 1 - k else i + k) = (v >>> (8 * k)).toByte
      k += 1
    }
  }
}

object ByteSlice {

  /** The whole of `array`, big-endian unless told otherwise. */
  def apply(array: Array[Byte], bigEndian: Boolean = true): ByteSlice =
    new ByteSlice(array, 0, array.length, bigEndian)

  /** `values` as consecutive `width`-byte unsigned fields (2, 4 or 8). */
  def pack(width: Int, bigEndian: Boolean = true)(values: Long*): Array[Byte] = {
    val out = ByteSlice(new Array[Byte](width * values.length), bigEndian)
    values.zipWithIndex.foreach { case (v, i) => out.putUnsigned(width.toLong * i, width, v) }
    out.array
  }
}
