package graft.sources

import scala.collection.mutable.ArrayBuffer

import graft.core.ByteSlice

/** Minimal pure-JVM Berkeley DB **btree** file codec — enough of the
  * public on-disk format to read and write the key/value archives the
  * reference's BSDDBTileStore keeps (reference store/bsddb.py:9-60:
  * keys are `str(tilecoord)` = `"z/x/y"` UTF-8, values are raw tile
  * payload bytes; no duplicates, no partial gets).
  *
  * Format facts encoded here come from the publicly documented page
  * layout of Berkeley DB's btree access method (db(3) file format;
  * structures DBMETA/BTMETA/BKEYDATA/BOVERFLOW/BINTERNAL and the
  * 26-byte generic page header, as published in Berkeley DB's public
  * `db_page.h`). This is a from-scratch implementation of the layout,
  * not a port of any Berkeley DB code:
  *
  *   - page 0: btree metadata — magic 0x00053162 at byte 12, version,
  *     pagesize at 20, page type 9 (P_BTREEMETA) at 25, last_pgno at
  *     32, root pgno at 88.
  *   - generic 26-byte page header: lsn(8) pgno(4) prev(4) next(4)
  *     entries(2) hf_offset(2) level(1) type(1); little- or big-endian
  *     as written by the native producer (byte-swapped files are
  *     detected via the magic and read transparently).
  *   - leaf pages (type 5, level 1): a growing u16 index array after
  *     the header points at items packed from the page end; entries
  *     alternate key/data. Inline items are BKEYDATA (len u16, type 1,
  *     bytes), 4-byte aligned; big values are BOVERFLOW items
  *     (type 3, 12 bytes: pgno of chain head + total length).
  *   - overflow pages (type 7): payload at byte 26, per-page byte
  *     count in hf_offset, chained via next_pgno.
  *   - internal pages (type 3, level > 1): BINTERNAL items (len u16,
  *     type, unused, child pgno u32, nrecs u32, key bytes); the first
  *     entry's key is empty by convention.
  *
  * Writer: a bulk load over key-sorted pairs (lexicographic unsigned
  * byte order — Berkeley DB's default comparator), packing leaves left
  * to right, then building internal levels bottom-up; values larger
  * than [[OverflowThreshold]] go to overflow chains exactly like the
  * native writer's page-quarter rule intends. The whole archive is
  * buffered as pages before writing (interior pages reference later
  * page numbers), so single-archive size is bounded by available heap
  * — same contract as [[Sqlite.writeDatabase]].
  *
  * Unsupported (rejected loudly, never silently misread): encrypted or
  * checksummed files, hash/recno/queue access methods, duplicate sets
  * (off-page dup trees), and non-btree page types.
  */
object Bsddb {

  val Magic = 0x00053162
  val Version = 9
  val PageSize = 4096
  val HeaderSize = 26 // generic page header (lsn..type)

  val PBtreeInternal = 3
  val PBtreeLeaf = 5
  val POverflow = 7
  val PBtreeMeta = 9

  val BKeyData = 1 // inline item type
  val BOverflow = 3 // overflow item type

  /** Values above this go to an overflow chain. The native rule keeps
    * at least minkey=2 pairs per 4K page; 1024 is safely below that
    * bound and keeps leaves dense for tile payloads. */
  val OverflowThreshold = 1024

  private def align4(n: Int): Int = (n + 3) & ~3

  // ---------------------------------------------------------------- write

  /** Pages as written: the native little-endian layout. */
  private final class PageBuf {
    val pages = ArrayBuffer.empty[Array[Byte]]
    def alloc(): Int = { pages += new Array[Byte](PageSize); pages.size - 1 }
    def apply(p: Int): ByteSlice = ByteSlice(pages(p), bigEndian = false)
  }

  private def header(
      b: ByteSlice, pgno: Int, prev: Int, next: Int,
      entries: Int, hfOffset: Int, level: Int, tpe: Int): Unit = {
    b.putU32(8, pgno.toLong)
    b.putU32(12, prev.toLong)
    b.putU32(16, next.toLong)
    b.putU16(20, entries)
    b.putU16(22, hfOffset)
    b.putU8(24, level)
    b.putU8(25, tpe)
  }

  /** Encode a complete btree archive from (key, value) pairs. Input
    * need not be sorted; the bulk load sorts by unsigned byte order. */
  def encode(pairs: Seq[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val sorted = pairs.sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
    val buf = new PageBuf
    buf.alloc() // page 0 = meta, filled last

    def writeOverflow(data: Array[Byte]): Int = {
      val perPage = PageSize - HeaderSize
      val nPages = math.max(1, (data.length + perPage - 1) / perPage)
      val pgs = (0 until nPages).map(_ => buf.alloc())
      for (i <- 0 until nPages) {
        val b = buf(pgs(i))
        val off = i * perPage
        val len = math.min(perPage, data.length - off)
        header(b, pgs(i),
          prev = if (i == 0) 0 else pgs(i - 1),
          next = if (i == nPages - 1) 0 else pgs(i + 1),
          entries = 1, hfOffset = len, level = 0, tpe = POverflow)
        b.put(HeaderSize, data.slice(off, off + len))
      }
      pgs.head
    }

    // pack leaves left to right
    final case class Leaf(pgno: Int, firstKey: Array[Byte])
    val leaves = ArrayBuffer.empty[Leaf]
    var cur = ArrayBuffer.empty[(Array[Byte], Either[Array[Byte], (Int, Int)])]
    var curBytes = 0 // item bytes used (from page end)

    def itemSize(e: Either[Array[Byte], (Int, Int)]): Int = e match {
      case Left(inline) => align4(3 + inline.length)
      case Right(_)     => 12
    }

    def flushLeaf(): Unit = if (cur.nonEmpty) {
      val pgno = buf.alloc()
      val b = buf(pgno)
      var top = PageSize
      val inx = ArrayBuffer.empty[Int]
      def putItem(e: Either[Array[Byte], (Int, Int)]): Unit = e match {
        case Left(inline) =>
          top -= align4(3 + inline.length)
          b.putU16(top, inline.length)
          b.putU8(top + 2, BKeyData)
          b.put(top + 3, inline)
          inx += top
        case Right((ovPgno, tlen)) =>
          top -= 12
          b.putU16(top, 0)
          b.putU8(top + 2, BOverflow)
          b.putU8(top + 3, 0)
          b.putU32(top + 4, ovPgno.toLong)
          b.putU32(top + 8, tlen.toLong)
          inx += top
      }
      cur.foreach { case (k, v) => putItem(Left(k)); putItem(v) }
      var o = HeaderSize
      inx.foreach { off => b.putU16(o, off); o += 2 }
      header(b, pgno, prev = 0, next = 0,
        entries = inx.size, hfOffset = top, level = 1, tpe = PBtreeLeaf)
      leaves += Leaf(pgno, cur.head._1)
      cur = ArrayBuffer.empty
      curBytes = 0
    }

    sorted.foreach { case (k, v) =>
      require(k.nonEmpty && k.length <= 512, s"unsupported key length ${k.length}")
      val vItem: Either[Array[Byte], (Int, Int)] =
        if (v.length > OverflowThreshold) {
          // overflow chain pages allocate NOW, so leaf flushes stay in
          // key order relative to their own overflow chains
          Right((writeOverflow(v), v.length))
        } else Left(v)
      val need = align4(3 + k.length) + itemSize(vItem) + 4 // + 2 inx slots
      if (HeaderSize + (cur.size * 2 + 2) * 2 + curBytes + need > PageSize)
        flushLeaf()
      cur += ((k, vItem))
      curBytes += align4(3 + k.length) + itemSize(vItem)
    }
    flushLeaf()
    require(leaves.nonEmpty, "cannot encode an empty archive")

    // sibling chain
    for (i <- leaves.indices) {
      val b = buf(leaves(i).pgno)
      b.putU32(12, (if (i == 0) 0 else leaves(i - 1).pgno).toLong)
      b.putU32(16, (if (i == leaves.size - 1) 0 else leaves(i + 1).pgno).toLong)
    }

    // internal levels bottom-up
    var level = 1
    var children = leaves.map(l => (l.pgno, l.firstKey)).toSeq
    while (children.size > 1) {
      level += 1
      val parents = ArrayBuffer.empty[(Int, Array[Byte])]
      var group = ArrayBuffer.empty[(Int, Array[Byte])]
      var groupBytes = 0
      def flushInternal(): Unit = if (group.nonEmpty) {
        val pgno = buf.alloc()
        val b = buf(pgno)
        var top = PageSize
        val inx = ArrayBuffer.empty[Int]
        group.zipWithIndex.foreach { case ((child, key), i) =>
          val k = if (i == 0) Array.emptyByteArray else key // leftmost: empty
          top -= align4(12 + k.length)
          b.putU16(top, k.length)
          b.putU8(top + 2, BKeyData)
          b.putU8(top + 3, 0)
          b.putU32(top + 4, child.toLong)
          b.putU32(top + 8, 0L) // nrecs: only maintained with record counts
          b.put(top + 12, k)
          inx += top
        }
        var o = HeaderSize
        inx.foreach { off => b.putU16(o, off); o += 2 }
        header(b, pgno, 0, 0, inx.size, top, level, PBtreeInternal)
        parents += ((pgno, group.head._2))
        group = ArrayBuffer.empty
        groupBytes = 0
      }
      children.foreach { case (child, key) =>
        val need = align4(12 + key.length) + 2
        if (HeaderSize + (group.size + 1) * 2 + groupBytes + need > PageSize)
          flushInternal()
        group += ((child, key))
        groupBytes += align4(12 + key.length)
      }
      flushInternal()
      children = parents.toSeq
    }
    val root = children.head._1

    // meta page (DBMETA then BTMETA extension; offsets per db_page.h)
    val m = buf(0)
    m.putU32(8, 0L) // pgno
    m.putU32(12, Magic.toLong)
    m.putU32(16, Version.toLong)
    m.putU32(20, PageSize.toLong)
    m.putU8(24, 0) // encrypt_alg
    m.putU8(25, PBtreeMeta)
    m.putU32(28, 0L) // free list: none
    m.putU32(32, (buf.pages.size - 1).toLong) // last_pgno
    m.putU32(76, 2L) // minkey
    m.putU32(88, root.toLong)
    // concatenate pages with arraycopy: ArrayBuffer.flatten would box
    // every byte (~16x the archive size in transient object overhead)
    // before toArray — an executor OOM at writeSharded archive sizes
    val outBytes = new Array[Byte](buf.pages.size * PageSize)
    buf.pages.zipWithIndex.foreach { case (pg, i) =>
      System.arraycopy(pg, 0, outBytes, i * PageSize, PageSize)
    }
    outBytes
  }

  // ----------------------------------------------------------------- read

  /** Parsed archive view; `entries` walks the leaf chain in key order
    * resolving overflow chains. */
  final class BtreeFile(bytes: Array[Byte]) {
    /** The file in its producer's byte order, told by the magic. */
    private val file = {
      val le = ByteSlice(bytes, bigEndian = false)
      val magic = le.u32(12)
      if (magic == Magic) le
      else if (le.withOrder(bigEndian = true).u32(12) == Magic) le.withOrder(bigEndian = true)
      else throw new IllegalArgumentException(
        f"not a Berkeley DB btree file (magic 0x$magic%08x at offset 12)")
    }

    val version: Long = file.u32(16)
    require(version >= 8 && version <= 10,
      s"unsupported btree version $version (8-10 share this page layout)")
    val pageSize: Int = file.u32(20).toInt
    require(file.u8(25) == PBtreeMeta,
      s"not a btree database (meta page type ${file.u8(25)}; hash/recno/queue unsupported)")
    require(file.u8(24) == 0, "encrypted or checksummed files unsupported")
    val root: Int = file.u32(88).toInt

    private def page(p: Long): ByteSlice = file.slice(p * pageSize, pageSize)

    /** Leftmost descent + sibling walk: all (key, value) pairs in key
      * order. Each page is visited at most once: a pointer back to a
      * visited page (a cycle in the descent, the leaf chain or an
      * overflow chain) throws instead of walking forever. */
    def entries: Iterator[(Array[Byte], Array[Byte])] = {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      def visit(p: Long): ByteSlice = {
        require(seen.add(p), s"page $p is reached twice")
        page(p)
      }

      /** The overflow chain from `head`, which must hold `tlen` bytes:
        * no more than the file itself, checked before allocating. */
      def overflowData(head: Long, tlen: Long): Array[Byte] = {
        require(tlen <= bytes.length, s"overflow length $tlen exceeds the file (${bytes.length} bytes)")
        val out = new Array[Byte](tlen.toInt)
        var p = head
        var o = 0
        while (p != 0) {
          val pg = visit(p)
          require(pg.u8(25) == POverflow, s"page $p in overflow chain has type ${pg.u8(25)}")
          val len = pg.u16(22)
          pg.copyTo(HeaderSize, len, out, o)
          o += len
          p = pg.u32(16)
        }
        require(o == tlen, s"overflow chain length $o != declared $tlen")
        out
      }

      def item(pg: ByteSlice, slot: Int): Array[Byte] = {
        val off = pg.u16(HeaderSize + 2 * slot)
        pg.u8(off + 2) match {
          case BKeyData => pg.bytes(off + 3, pg.u16(off))
          case BOverflow => overflowData(pg.u32(off + 4), pg.u32(off + 8))
          case other =>
            throw new IllegalArgumentException(
              s"unsupported item type $other (duplicate sets are not supported)")
        }
      }

      var p = root.toLong
      var pg = visit(p)
      while (pg.u8(24) > 1) {
        require(pg.u8(25) == PBtreeInternal, s"level>1 page $p has type ${pg.u8(25)}")
        // BINTERNAL slot 0: child pgno at item offset + 4
        p = pg.u32(pg.u16(HeaderSize) + 4)
        pg = visit(p)
      }
      val first = p
      val firstPage = pg
      new Iterator[(Array[Byte], Array[Byte])] {
        private var pgno = first
        private var cur = firstPage
        private var slot = 0
        def hasNext: Boolean = {
          while (pgno != 0 && slot >= cur.u16(20)) {
            pgno = cur.u32(16)
            if (pgno != 0) cur = visit(pgno)
            slot = 0
          }
          pgno != 0
        }
        def next(): (Array[Byte], Array[Byte]) = {
          require(cur.u8(25) == PBtreeLeaf, s"leaf chain page $pgno has type ${cur.u8(25)}")
          val k = item(cur, slot)
          val v = item(cur, slot + 1)
          slot += 2
          (k, v)
        }
      }
    }
  }

  def decode(bytes: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] =
    new BtreeFile(bytes).entries
}
