package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ByteSliceSpec extends AnyFunSuite {

  private val bytes = Array[Byte](0x01, 0x02, 0x03, 0x04, 0x05, 0x06, 0x07, 0x08, 0xff.toByte, 0x80.toByte)

  test("reads in the slice's byte order, at offsets relative to its window") {
    val be = ByteSlice(bytes)
    val le = ByteSlice(bytes, bigEndian = false)
    assert(be.u16(0) == 0x0102 && le.u16(0) == 0x0201)
    assert(be.u32(0) == 0x01020304L && le.u32(0) == 0x04030201L)
    assert(be.u64(0) == 0x0102030405060708L && le.u64(0) == 0x0807060504030201L)
    assert(be.u32(6) == 0x0708ff80L, "unsigned, no sign extension")
    assert(be.signed(8, 2) == -128L && be.signed(7, 1) == 8L)
    val w = be.slice(2, 4)
    assert(w.length == 4 && w.u8(0) == 3 && w.u16(2) == 0x0506)
    assert(w.withOrder(bigEndian = false).u16(2) == 0x0605)
    assert(w.bytes(1, 2).sameElements(Array[Byte](4, 5)))
  }

  test("any read, sub-window or copy outside the window throws, naming the offset") {
    val w = ByteSlice(bytes).slice(2, 4)
    for (bad <- Seq[() => Any](() => w.u8(4), () => w.u16(3), () => w.u32(1), () => w.u8(-1),
        () => w.slice(1, 4), () => w.slice(0, -1), () => w.bytes(0, 0x7fffffffL), () => w.u64(0))) {
      val e = intercept[IllegalArgumentException](bad())
      assert(e.getMessage.contains("outside the 4-byte window"), e.getMessage)
    }
    assert(w.slice(4, 0).length == 0)
  }

  test("the SQLite varint: 1 to 9 bytes, the 9th carrying 8 bits") {
    assert(ByteSlice(Array[Byte](0x7f)).varint(0) == ((0x7fL, 1)))
    assert(ByteSlice(Array(0x81.toByte, 0x00)).varint(0) == ((0x80L, 2)))
    assert(ByteSlice(Array.fill(9)(0xff.toByte)).varint(0) == ((-1L, 9)))
    intercept[IllegalArgumentException](ByteSlice(Array(0x81.toByte)).varint(0))
  }

  test("writers and pack use the same byte orders as the readers") {
    val b = ByteSlice(new Array[Byte](7), bigEndian = false)
    b.putU8(0, 0xab)
    b.putU16(1, 0x1234)
    b.putU32(3, 0xdeadbeefL)
    assert(b.u8(0) == 0xab && b.u16(1) == 0x1234 && b.u32(3) == 0xdeadbeefL)
    assert(b.withOrder(bigEndian = true).u16(1) == 0x3412)
    assert(ByteSlice.pack(4)(1L, 0x01020304L).sameElements(Array[Byte](0, 0, 0, 1, 1, 2, 3, 4)))
    assert(ByteSlice.pack(2, bigEndian = false)(0x0102L).sameElements(Array[Byte](2, 1)))
    intercept[IllegalArgumentException](b.putU32(4, 0L))
  }
}
