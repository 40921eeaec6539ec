package graft.sources

import scala.collection.mutable.ArrayBuffer

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

  private final class PageBuf {
    val pages = ArrayBuffer.empty[Array[Byte]]
    def alloc(): Int = { pages += new Array[Byte](PageSize); pages.size - 1 }
    def apply(p: Int): Array[Byte] = pages(p)
  }

  private def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putU32(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  private def header(
      b: Array[Byte], pgno: Int, prev: Int, next: Int,
      entries: Int, hfOffset: Int, level: Int, tpe: Int): Unit = {
    putU32(b, 8, pgno.toLong)
    putU32(b, 12, prev.toLong)
    putU32(b, 16, next.toLong)
    putU16(b, 20, entries)
    putU16(b, 22, hfOffset)
    b(24) = level.toByte
    b(25) = tpe.toByte
  }

  /** Encode a complete btree archive from (key, value) pairs. Input
    * need not be sorted; the bulk load sorts by unsigned byte order. */
  def encode(pairs: Seq[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val ord = new Ordering[Array[Byte]] {
      def compare(a: Array[Byte], b: Array[Byte]): Int = {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val d = (a(i) & 0xff) - (b(i) & 0xff)
          if (d != 0) return d
          i += 1
        }
        a.length - b.length
      }
    }
    val sorted = pairs.sortBy(_._1)(ord)
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
        System.arraycopy(data, off, b, HeaderSize, len)
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
          putU16(b, top, inline.length)
          b(top + 2) = BKeyData.toByte
          System.arraycopy(inline, 0, b, top + 3, inline.length)
          inx += top
        case Right((ovPgno, tlen)) =>
          top -= 12
          putU16(b, top, 0)
          b(top + 2) = BOverflow.toByte
          b(top + 3) = 0
          putU32(b, top + 4, ovPgno.toLong)
          putU32(b, top + 8, tlen.toLong)
          inx += top
      }
      cur.foreach { case (k, v) => putItem(Left(k)); putItem(v) }
      var o = HeaderSize
      inx.foreach { off => putU16(b, o, off); o += 2 }
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
      putU32(b, 12, (if (i == 0) 0 else leaves(i - 1).pgno).toLong)
      putU32(b, 16, (if (i == leaves.size - 1) 0 else leaves(i + 1).pgno).toLong)
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
          putU16(b, top, k.length)
          b(top + 2) = BKeyData.toByte
          b(top + 3) = 0
          putU32(b, top + 4, child.toLong)
          putU32(b, top + 8, 0L) // nrecs: only maintained with record counts
          System.arraycopy(k, 0, b, top + 12, k.length)
          inx += top
        }
        var o = HeaderSize
        inx.foreach { off => putU16(b, o, off); o += 2 }
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
    putU32(m, 8, 0L) // pgno
    putU32(m, 12, Magic.toLong)
    putU32(m, 16, Version.toLong)
    putU32(m, 20, PageSize.toLong)
    m(24) = 0 // encrypt_alg
    m(25) = PBtreeMeta.toByte
    putU32(m, 28, 0L) // free list: none
    putU32(m, 32, (buf.pages.size - 1).toLong) // last_pgno
    putU32(m, 76, 2L) // minkey
    putU32(m, 88, root.toLong)
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
    private val swapped = {
      val le = u32le(12)
      if (le == Magic) false
      else if (java.lang.Integer.reverseBytes(le.toInt).toLong == Magic) true
      else throw new IllegalArgumentException(
        f"not a Berkeley DB btree file (magic 0x$le%08x at offset 12)")
    }
    private def u32le(off: Int): Long =
      ((bytes(off) & 0xffL)) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    private def u32(off: Int): Long = {
      val v = u32le(off)
      if (swapped) java.lang.Integer.reverseBytes(v.toInt).toLong & 0xffffffffL
      else v
    }
    private def u16(off: Int): Int = {
      val v = ((bytes(off) & 0xff)) | ((bytes(off + 1) & 0xff) << 8)
      if (swapped) ((v >> 8) | ((v & 0xff) << 8)) & 0xffff else v
    }

    val version: Long = u32(16)
    require(version >= 8 && version <= 10,
      s"unsupported btree version $version (8-10 share this page layout)")
    val pageSize: Int = u32(20).toInt
    require(bytes(25) == PBtreeMeta.toByte,
      s"not a btree database (meta page type ${bytes(25)}; hash/recno/queue unsupported)")
    require(bytes(24) == 0, "encrypted or checksummed files unsupported")
    val root: Int = u32(88).toInt

    private def pageOff(p: Int): Int = p * pageSize
    private def pageType(p: Int): Int = bytes(pageOff(p) + 25) & 0xff
    private def pageLevel(p: Int): Int = bytes(pageOff(p) + 24) & 0xff
    private def nextPgno(p: Int): Int = u32(pageOff(p) + 16).toInt
    private def entryCount(p: Int): Int = u16(pageOff(p) + 20)
    private def hfOffset(p: Int): Int = u16(pageOff(p) + 22)

    private def overflowData(head: Int, tlen: Int): Array[Byte] = {
      val out = new Array[Byte](tlen)
      var p = head
      var o = 0
      while (p != 0) {
        require(pageType(p) == POverflow, s"page $p in overflow chain has type ${pageType(p)}")
        val len = hfOffset(p)
        System.arraycopy(bytes, pageOff(p) + HeaderSize, out, o, len)
        o += len
        p = nextPgno(p)
      }
      require(o == tlen, s"overflow chain length $o != declared $tlen")
      out
    }

    private def item(p: Int, slot: Int): Array[Byte] = {
      val off = pageOff(p) + u16(pageOff(p) + HeaderSize + 2 * slot)
      (bytes(off + 2) & 0xff) match {
        case BKeyData =>
          val len = u16(off)
          java.util.Arrays.copyOfRange(bytes, off + 3, off + 3 + len)
        case BOverflow =>
          overflowData(u32(off + 4).toInt, u32(off + 8).toInt)
        case other =>
          throw new IllegalArgumentException(
            s"unsupported item type $other (duplicate sets are not supported)")
      }
    }

    /** Leftmost descent + sibling walk: all (key, value) pairs in key
      * order. */
    def entries: Iterator[(Array[Byte], Array[Byte])] = {
      var p = root
      while (pageLevel(p) > 1) {
        require(pageType(p) == PBtreeInternal, s"level>1 page $p has type ${pageType(p)}")
        // BINTERNAL slot 0: child pgno at item offset + 4
        val off = pageOff(p) + u16(pageOff(p) + HeaderSize)
        p = u32(off + 4).toInt
      }
      val first = p
      new Iterator[(Array[Byte], Array[Byte])] {
        private var pg = first
        private var slot = 0
        def hasNext: Boolean = pg != 0 && {
          if (slot < entryCount(pg)) true
          else { pg = nextPgno(pg); slot = 0; hasNext }
        }
        def next(): (Array[Byte], Array[Byte]) = {
          require(pageType(pg) == PBtreeLeaf, s"leaf chain page $pg has type ${pageType(pg)}")
          val k = item(pg, slot)
          val v = item(pg, slot + 1)
          slot += 2
          (k, v)
        }
      }
    }
  }

  def decode(bytes: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] =
    new BtreeFile(bytes).entries
}
