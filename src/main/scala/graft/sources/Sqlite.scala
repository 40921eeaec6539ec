package graft.sources

import java.nio.ByteBuffer
import scala.collection.mutable.ArrayBuffer

/** Minimal pure-JVM SQLite 3 database file codec — enough of the
  * public file format (https://www.sqlite.org/fileformat2.html) to
  * read and write MBTiles archives with zero native or JDBC
  * dependencies. Supports: table b-trees (leaf + interior pages),
  * record serial types (ints, floats, text, blob, null), payload
  * overflow chains, and sqlite_master schema discovery. Deliberately
  * out of scope: indexes, freelists, WAL, writing page sizes other
  * than 4096, mutation (write builds a fresh file).
  *
  * Cross-validated against genuine SQLite in SqliteSpec via
  * tools/mbtiles_oracle.py (CPython's stdlib sqlite3): files we write
  * pass `PRAGMA integrity_check` and query identically; files real
  * SQLite writes parse identically here.
  */
object Sqlite {

  val PageSize = 4096

  // ---------------------------------------------------------------- //
  // varints + records
  // ---------------------------------------------------------------- //

  /** SQLite varint: big-endian base-128, 1-9 bytes; the 9th byte
    * carries 8 payload bits. */
  def writeVarint(out: ArrayBuffer[Byte], v0: Long): Unit = {
    val v = v0
    if (v >= 0 && v <= 0x7f) { out += v.toByte; return }
    // collect 7-bit groups from the low end; 9-byte form not needed for
    // our payload sizes but handled for completeness
    if ((v >>> 56) != 0) {
      // needs the 9-byte form: 8 high-bit bytes + full low byte
      var i = 8
      val bytes = new Array[Byte](9)
      bytes(8) = (v & 0xff).toByte
      var rest = v >>> 8
      i = 7
      while (i >= 0) {
        bytes(i) = ((rest & 0x7f) | 0x80).toByte
        rest >>= 7
        i -= 1
      }
      out ++= bytes
      return
    }
    val groups = ArrayBuffer.empty[Byte]
    var rest = v
    while (rest != 0) {
      groups += (rest & 0x7f).toByte
      rest >>>= 7
    }
    var i = groups.length - 1
    while (i >= 1) { out += (groups(i) | 0x80).toByte; i -= 1 }
    out += groups(0)
  }

  /** Read a varint at `pos`; returns (value, bytesConsumed). */
  def readVarint(b: Array[Byte], pos: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = b(pos + i) & 0xff
      v = (v << 7) | (x & 0x7f)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    ((v << 8) | (b(pos + 8) & 0xff), 9)
  }

  sealed trait Value
  case object NullValue extends Value
  final case class IntValue(v: Long) extends Value
  final case class FloatValue(v: Double) extends Value
  final case class TextValue(v: String) extends Value
  final case class BlobValue(v: Array[Byte]) extends Value

  /** Serialize a row into the SQLite record format. */
  def encodeRecord(values: Seq[Value]): Array[Byte] = {
    val types = ArrayBuffer.empty[Byte]
    val body = ArrayBuffer.empty[Byte]
    values.foreach {
      case NullValue => writeVarint(types, 0L)
      case IntValue(0) => writeVarint(types, 8L)
      case IntValue(1) => writeVarint(types, 9L)
      case IntValue(v) =>
        val nBytes =
          if (v >= -128 && v <= 127) 1
          else if (v >= -32768 && v <= 32767) 2
          else if (v >= -8388608 && v <= 8388607) 3
          else if (v >= Int.MinValue && v <= Int.MaxValue) 4
          else if (v >= -140737488355328L && v <= 140737488355327L) 6
          else 8
        writeVarint(types, Seq(1, 2, 3, 4, 6, 8).indexOf(nBytes) + 1L)
        var i = nBytes - 1
        while (i >= 0) { body += ((v >> (8 * i)) & 0xff).toByte; i -= 1 }
      case FloatValue(v) =>
        writeVarint(types, 7L)
        val bits = java.lang.Double.doubleToLongBits(v)
        var i = 7
        while (i >= 0) { body += ((bits >> (8 * i)) & 0xff).toByte; i -= 1 }
      case TextValue(s) =>
        val utf = s.getBytes("UTF-8")
        writeVarint(types, 13L + 2L * utf.length)
        body ++= utf
      case BlobValue(bs) =>
        writeVarint(types, 12L + 2L * bs.length)
        body ++= bs
    }
    // header length varint includes itself — its own encoded size can
    // bump the length across a varint width boundary; iterate to the
    // fixpoint
    def varintSize(v: Long): Int = {
      val probe = ArrayBuffer.empty[Byte]
      writeVarint(probe, v)
      probe.length
    }
    var hdrLen = types.length + 1
    while (types.length + varintSize(hdrLen.toLong) != hdrLen)
      hdrLen = types.length + varintSize(hdrLen.toLong)
    val out = ArrayBuffer.empty[Byte]
    writeVarint(out, hdrLen.toLong)
    out ++= types
    out ++= body
    out.toArray
  }

  /** Parse a record into values. */
  def decodeRecord(payload: Array[Byte]): IndexedSeq[Value] = {
    val (hdrLen, n0) = readVarint(payload, 0)
    var p = n0
    val types = ArrayBuffer.empty[Long]
    while (p < hdrLen) {
      val (t, n) = readVarint(payload, p)
      types += t
      p += n
    }
    var body = hdrLen.toInt
    types.map { t =>
      def intOf(nBytes: Int): Long = {
        var v = if ((payload(body) & 0x80) != 0) -1L else 0L
        var i = 0
        while (i < nBytes) { v = (v << 8) | (payload(body + i) & 0xff); i += 1 }
        body += nBytes
        v
      }
      t match {
        case 0 => NullValue
        case 1 => IntValue(intOf(1))
        case 2 => IntValue(intOf(2))
        case 3 => IntValue(intOf(3))
        case 4 => IntValue(intOf(4))
        case 5 => IntValue(intOf(6))
        case 6 => IntValue(intOf(8))
        case 7 => FloatValue(java.lang.Double.longBitsToDouble(intOf(8)))
        case 8 => IntValue(0)
        case 9 => IntValue(1)
        case n if n >= 12 && n % 2 == 0 =>
          val len = ((n - 12) / 2).toInt
          val v = java.util.Arrays.copyOfRange(payload, body, body + len)
          body += len
          BlobValue(v)
        case n if n >= 13 =>
          val len = ((n - 13) / 2).toInt
          val v = new String(payload, body, len, "UTF-8")
          body += len
          TextValue(v)
        case other => throw new IllegalArgumentException(s"serial type $other")
      }
    }.toIndexedSeq
  }

  // ---------------------------------------------------------------- //
  // writer
  // ---------------------------------------------------------------- //

  /** In-memory page allocator; page numbers are 1-based. */
  private final class Pages {
    val pages = ArrayBuffer.empty[Array[Byte]]
    def alloc(): Int = { pages += new Array[Byte](PageSize); pages.length }
    def apply(n: Int): Array[Byte] = pages(n - 1)
  }

  private def putU16(p: Array[Byte], off: Int, v: Int): Unit = {
    p(off) = ((v >> 8) & 0xff).toByte
    p(off + 1) = (v & 0xff).toByte
  }
  private def putU32(p: Array[Byte], off: Int, v: Long): Unit = {
    p(off) = ((v >> 24) & 0xff).toByte
    p(off + 1) = ((v >> 16) & 0xff).toByte
    p(off + 2) = ((v >> 8) & 0xff).toByte
    p(off + 3) = (v & 0xff).toByte
  }
  private def u16(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xff) << 8) | (p(off + 1) & 0xff)
  private def u32(p: Array[Byte], off: Int): Long =
    ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xffL) << 16) |
      ((p(off + 2) & 0xffL) << 8) | (p(off + 3) & 0xffL)

  /** Overflow split for a TABLE LEAF cell: (localBytes, spilled). */
  private def leafLocal(payload: Int): Int = {
    val u = PageSize // reserved space 0
    val x = u - 35
    if (payload <= x) payload
    else {
      val m = ((u - 12) * 32) / 255 - 23
      val k = m + (payload - m) % (u - 4)
      if (k <= x) k else m
    }
  }

  /** One table row pending insertion: rowid + record bytes. */
  final case class TableRow(rowid: Long, record: Array[Byte])

  /** Build a table b-tree from rowid-ascending rows; returns the root
    * page number. Leaves are packed greedily; interior levels are
    * built bottom-up. Overflow chains are allocated inline. */
  private def buildTable(pages: Pages, rows: Iterator[TableRow]): Int = {
    // cell bytes (with overflow pages written) per leaf
    final case class Cell(bytes: Array[Byte], rowid: Long)
    def makeCell(r: TableRow): Cell = {
      val payload = r.record
      val local = leafLocal(payload.length)
      val cell = ArrayBuffer.empty[Byte]
      writeVarint(cell, payload.length.toLong)
      writeVarint(cell, r.rowid)
      if (local == payload.length) cell ++= payload.slice(0, local)
      else {
        // overflow chain: allocate pages, chain next-pointers
        cell ++= payload.slice(0, local)
        var off = local
        val chain = ArrayBuffer.empty[Int]
        while (off < payload.length) {
          val pn = pages.alloc()
          chain += pn
          off += math.min(PageSize - 4, payload.length - off)
        }
        var i = 0
        off = local
        while (i < chain.length) {
          val p = pages(chain(i))
          val next = if (i + 1 < chain.length) chain(i + 1) else 0
          putU32(p, 0, next.toLong)
          val n = math.min(PageSize - 4, payload.length - off)
          System.arraycopy(payload, off, p, 4, n)
          off += n
          i += 1
        }
        val ptr = new Array[Byte](4)
        putU32(ptr, 0, chain(0).toLong)
        cell ++= ptr
      }
      Cell(cell.toArray, r.rowid)
    }

    // pack leaves: header 8 bytes, cell pointer 2 bytes/cell
    val leaves = ArrayBuffer.empty[(Int, Long)] // (page, maxRowid)
    val pending = ArrayBuffer.empty[Cell]
    var pendingBytes = 0
    def flushLeaf(): Unit = {
      if (pending.isEmpty) return
      val pn = pages.alloc()
      val p = pages(pn)
      p(0) = 13
      putU16(p, 3, pending.length)
      var content = PageSize
      var ptrOff = 8
      pending.foreach { c =>
        content -= c.bytes.length
        System.arraycopy(c.bytes, 0, p, content, c.bytes.length)
        putU16(p, ptrOff, content)
        ptrOff += 2
      }
      putU16(p, 5, content)
      leaves += ((pn, pending.last.rowid))
      pending.clear()
      pendingBytes = 0
    }
    rows.foreach { r =>
      val c = makeCell(r)
      if (pending.nonEmpty &&
        8 + 2 * (pending.length + 1) + pendingBytes + c.bytes.length > PageSize)
        flushLeaf()
      pending += c
      pendingBytes += c.bytes.length
    }
    flushLeaf()
    if (leaves.isEmpty) {
      // empty table: a single empty leaf is the root
      val pn = pages.alloc()
      val p = pages(pn)
      p(0) = 13
      putU16(p, 3, 0)
      putU16(p, 5, PageSize)
      return pn
    }
    // interior levels: cells are (leftChild u32, maxRowid varint)
    var level = leaves.toIndexedSeq
    while (level.length > 1) {
      val next = ArrayBuffer.empty[(Int, Long)]
      var i = 0
      while (i < level.length) {
        // up to ~340 children per interior page; compute greedily
        val cells = ArrayBuffer.empty[Array[Byte]]
        val start = i
        var bytes = 0
        while (i < level.length - 1 &&
          12 + 2 * (cells.length + 1) + bytes + 13 <= PageSize &&
          cells.length < 340) {
          val buf = ArrayBuffer.empty[Byte]
          val ptr = new Array[Byte](4)
          putU32(ptr, 0, level(i)._1.toLong)
          buf ++= ptr
          writeVarint(buf, level(i)._2)
          cells += buf.toArray
          bytes += buf.length
          i += 1
        }
        // same guard as buildIndex: never leave exactly one child for
        // the next group (it would emit a zero-cell interior page)
        if (i == level.length - 2 && cells.length >= 2) {
          bytes -= cells.remove(cells.length - 1).length
          i -= 1
        }
        // level(i) becomes this page's right-most pointer
        val pn = pages.alloc()
        val p = pages(pn)
        p(0) = 5
        putU16(p, 3, cells.length)
        putU32(p, 8, level(i)._1.toLong)
        var content = PageSize
        var ptrOff = 12
        cells.foreach { c =>
          content -= c.length
          System.arraycopy(c, 0, p, content, c.length)
          putU16(p, ptrOff, content)
          ptrOff += 2
        }
        putU16(p, 5, content)
        next += ((pn, level(i)._2))
        i += 1
        require(i > start, "interior packing must progress")
      }
      level = next.toIndexedSeq
    }
    level.head._1
  }

  /** A table to be written: name, CREATE TABLE sql, rowid-ascending
    * row iterator. */
  final case class Table(name: String, sql: String, rows: Iterator[TableRow])

  /** An index to be written: entries are pre-encoded records
    * `(key columns..., rowid)` in key-sorted order. `sql = None` marks
    * an automatic index (`sqlite_autoindex_<table>_<n>`, the b-tree
    * real SQLite creates for non-INTEGER PRIMARY KEY / UNIQUE
    * constraints — sqlite_master stores NULL sql for those). */
  final case class IndexDef(
      name: String,
      table: String,
      sql: Option[String],
      entries: Iterator[Array[Byte]])

  /** Max local payload for index pages — smaller than table leaves:
    * x = 64/255ths of usable space (sqlite.org/fileformat2.html
    * §B-tree Pages). */
  private def indexLocal(payload: Int): Int = {
    val u = PageSize
    val x = ((u - 12) * 64) / 255 - 23
    if (payload <= x) payload
    else {
      val m = ((u - 12) * 32) / 255 - 23
      val k = m + (payload - m) % (u - 4)
      if (k <= x) k else m
    }
  }

  /** Build an index b-tree from key-sorted entry records; returns the
    * root page. Unlike table b-trees, index INTERIOR cells carry real
    * entries (each entry lives at exactly one level): when a leaf
    * fills, its LAST entry moves up as the parent divider — valid
    * because entries are strictly ordered, so the left leaf's max
    * separates the siblings. The same rule applies recursively when an
    * interior level itself overflows. Sizes are computed purely;
    * overflow pages are allocated only when a cell is actually placed
    * (a speculative allocation would orphan pages and fail
    * integrity_check's never-used scan). */
  private def buildIndex(pages: Pages, entries: Iterator[Array[Byte]]): Int = {
    def varintSize(v: Long): Int = {
      if (v >= 0 && v <= 0x7f) 1
      else if ((v >>> 56) != 0) 9
      else {
        var n = 0
        var rest = v
        while (rest != 0) { n += 1; rest >>>= 7 }
        n
      }
    }
    def cellSize(payloadLen: Int): Int = {
      val local = indexLocal(payloadLen)
      varintSize(payloadLen.toLong) + local + (if (local < payloadLen) 4 else 0)
    }
    /** Encode + place one cell; allocates any overflow chain NOW. */
    def cellBytes(payload: Array[Byte]): Array[Byte] = {
      val local = indexLocal(payload.length)
      val cell = ArrayBuffer.empty[Byte]
      writeVarint(cell, payload.length.toLong)
      if (local == payload.length) cell ++= payload
      else {
        cell ++= payload.slice(0, local)
        var off = local
        val chain = ArrayBuffer.empty[Int]
        while (off < payload.length) {
          chain += pages.alloc()
          off += math.min(PageSize - 4, payload.length - off)
        }
        var i = 0
        off = local
        while (i < chain.length) {
          val p = pages(chain(i))
          putU32(p, 0, (if (i + 1 < chain.length) chain(i + 1) else 0).toLong)
          val n = math.min(PageSize - 4, payload.length - off)
          System.arraycopy(payload, off, p, 4, n)
          off += n
          i += 1
        }
        val ptr = new Array[Byte](4)
        putU32(ptr, 0, chain(0).toLong)
        cell ++= ptr
      }
      cell.toArray
    }

    // leaves (type 10, 8-byte header); dividers(i) separates
    // children(i) from children(i+1)
    val children = ArrayBuffer.empty[Int]
    val dividers = ArrayBuffer.empty[Array[Byte]]
    val pending = ArrayBuffer.empty[Array[Byte]] // raw payloads
    var pendingCellBytes = 0
    def flushLeaf(popDivider: Boolean): Unit = {
      if (popDivider) {
        require(pending.length >= 2, "index leaf too small to pop a divider")
        val d = pending.remove(pending.length - 1)
        pendingCellBytes -= cellSize(d.length)
        dividers += d
      }
      val pn = pages.alloc()
      val p = pages(pn)
      p(0) = 10
      putU16(p, 3, pending.length)
      var content = PageSize
      var ptrOff = 8
      pending.foreach { payload =>
        val c = cellBytes(payload)
        content -= c.length
        System.arraycopy(c, 0, p, content, c.length)
        putU16(p, ptrOff, content)
        ptrOff += 2
      }
      putU16(p, 5, content)
      children += pn
      pending.clear()
      pendingCellBytes = 0
    }
    var any = false
    entries.foreach { e =>
      any = true
      if (pending.nonEmpty &&
        8 + 2 * (pending.length + 1) + pendingCellBytes + cellSize(e.length) > PageSize)
        flushLeaf(popDivider = true)
      pending += e
      pendingCellBytes += cellSize(e.length)
    }
    if (pending.nonEmpty || !any) flushLeaf(popDivider = false)

    // interior levels (type 2, 12-byte header): cells are
    // (leftChild u32, divider cell); each group's last child becomes
    // the page's right-most pointer and the divider that would follow
    // it moves up a level
    var kids = children.toIndexedSeq
    var divs = dividers.toIndexedSeq
    while (kids.length > 1) {
      require(divs.length == kids.length - 1, "divider/child count mismatch")
      val nextKids = ArrayBuffer.empty[Int]
      val nextDivs = ArrayBuffer.empty[Array[Byte]]
      var i = 0
      while (i < kids.length) {
        val group = ArrayBuffer.empty[Int] // child indexes whose divider is a cell
        var bytes = 0
        while (i < kids.length - 1 &&
          group.length < 300 &&
          12 + 2 * (group.length + 1) + bytes + 4 + cellSize(divs(i).length) <= PageSize) {
          bytes += 4 + cellSize(divs(i).length)
          group += i
          i += 1
        }
        // never leave exactly one child for the next group: it would
        // start at the level's last child and emit a ZERO-CELL interior
        // page (just a right-most pointer) — a shape real SQLite never
        // writes and strict readers may reject. Shrink this group by
        // one so the remainder is 2 children (1 cell + right pointer).
        if (i == kids.length - 2 && group.length >= 2) {
          group.remove(group.length - 1)
          i -= 1
        }
        val pn = pages.alloc()
        val p = pages(pn)
        p(0) = 2
        putU16(p, 3, group.length)
        putU32(p, 8, kids(i).toLong)
        var content = PageSize
        var ptrOff = 12
        group.foreach { gi =>
          val c = cellBytes(divs(gi))
          content -= c.length + 4
          putU32(p, content, kids(gi).toLong)
          System.arraycopy(c, 0, p, content + 4, c.length)
          putU16(p, ptrOff, content)
          ptrOff += 2
        }
        putU16(p, 5, content)
        nextKids += pn
        if (i < kids.length - 1) nextDivs += divs(i) // divider after right-most child
        i += 1
      }
      kids = nextKids.toIndexedSeq
      divs = nextDivs.toIndexedSeq
    }
    kids.head
  }

  /** Defer an iterator so it is constructed only when first pulled —
    * index-entry iterators read buffers that fill while the TABLE
    * b-tree consumes its row iterator, so they must not touch the
    * buffer at IndexDef construction time. */
  def deferred[A](mk: => Iterator[A]): Iterator[A] = Iterator.empty ++ mk

  /** Write a fresh SQLite database to an already-open stream (caller
    * closes; [[Archives]] opens archives on the Hadoop FileSystem).
    * The page image is built fully in memory before the single
    * sequential write: the b-tree interior pages and the page-1 header
    * both reference page numbers allocated after them, so the format
    * itself forces either buffering or a seekable re-patch — an
    * archive is therefore bounded by the writer's heap (use
    * [[Archives.writeSharded]]'s many-archives form for corpus-scale
    * exports). */
  def writeDatabase(
      out: java.io.OutputStream,
      tables: Seq[Table],
      applicationId: Long = 0L,
      userVersion: Long = 0L,
      indexes: Seq[IndexDef] = Nil): Unit = {
    val pages = new Pages
    val rootPlaceholder = pages.alloc() // page 1: header + sqlite_master
    require(rootPlaceholder == 1)
    // per-table: table b-tree, then its index b-trees (creation order,
    // like the real library) — sqlite_master rows follow the same order
    val masterEntries = tables.flatMap { t =>
      val tableRoot = buildTable(pages, t.rows)
      val tableRow: Seq[Value] = Seq(
        TextValue("table"), TextValue(t.name), TextValue(t.name),
        IntValue(tableRoot.toLong), TextValue(t.sql))
      val indexRows = indexes.filter(_.table == t.name).map { ix =>
        val ixRoot = buildIndex(pages, ix.entries)
        Seq(
          TextValue("index"), TextValue(ix.name), TextValue(t.name),
          IntValue(ixRoot.toLong),
          ix.sql.map(TextValue).getOrElse(NullValue)): Seq[Value]
      }
      tableRow +: indexRows
    }
    // sqlite_master rows on page 1 (schema is small; one leaf page)
    val masterRecords = masterEntries.zipWithIndex.map { case (vals, i) =>
      TableRow(i + 1L, encodeRecord(vals))
    }
    val p1 = pages(1)
    // b-tree header at offset 100 on page 1
    p1(100) = 13
    putU16(p1, 103, masterRecords.length)
    var content = PageSize
    var ptrOff = 108
    masterRecords.foreach { r =>
      val cell = ArrayBuffer.empty[Byte]
      writeVarint(cell, r.record.length.toLong)
      writeVarint(cell, r.rowid)
      cell ++= r.record
      require(
        content - cell.length >= ptrOff + 2,
        "schema too large for a single master page")
      content -= cell.length
      System.arraycopy(cell.toArray, 0, p1, content, cell.length)
      putU16(p1, ptrOff, content)
      ptrOff += 2
    }
    putU16(p1, 105, content)
    // 100-byte file header
    val magic = "SQLite format 3".getBytes("UTF-8") :+ 0.toByte
    System.arraycopy(magic, 0, p1, 0, 16)
    putU16(p1, 16, PageSize)
    p1(18) = 1 // file format write version (legacy)
    p1(19) = 1 // read version
    p1(20) = 0 // reserved bytes per page
    p1(21) = 64
    p1(22) = 32
    p1(23) = 32
    putU32(p1, 24, 1L) // change counter
    putU32(p1, 28, pages.pages.length.toLong) // db size in pages
    putU32(p1, 40, 1L) // schema cookie
    // schema format 4: serial types 8/9 (integer 0/1 constants, which
    // encodeRecord emits) are only legal under format 4+ per
    // sqlite.org/fileformat2.html §Record Format
    putU32(p1, 44, 4L)
    putU32(p1, 56, 1L) // text encoding: UTF-8
    putU32(p1, 60, userVersion) // e.g. GeoPackage spec version stamp
    putU32(p1, 68, applicationId) // e.g. 0x47504B47 "GPKG"
    putU32(p1, 92, 1L) // version-valid-for == change counter
    putU32(p1, 96, 3045001L) // sqlite version number stamp
    pages.pages.foreach(out.write)
  }

  // ---------------------------------------------------------------- //
  // reader
  // ---------------------------------------------------------------- //

  /** Parsed database held fully in memory (MBTiles archives are
    * single-file units, like zip archives — the distributed axis is
    * many archives, not one giant file). */
  final class Database(bytes: Array[Byte]) {
    require(bytes.length >= 100, "not a SQLite file: too short")
    require(
      new String(bytes, 0, 15, "UTF-8") == "SQLite format 3",
      "not a SQLite file: bad magic")
    val pageSize: Int = {
      val v = ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)
      if (v == 1) 65536 else v
    }
    val reserved: Int = bytes(20) & 0xff
    val usable: Int = pageSize - reserved
    private val textEncoding = u32(bytes, 56)
    require(
      textEncoding <= 1,
      s"unsupported text encoding $textEncoding (UTF-16 dbs out of scope)")

    private def page(n: Int): Int = (n - 1) * pageSize // offset of page n

    /** Walk a table b-tree rooted at `root`, invoking f per (rowid,
      * record payload). */
    def walkTable(root: Int)(f: (Long, Array[Byte]) => Unit): Unit = {
      val off = page(root)
      val hdrOff = if (root == 1) off + 100 else off
      val pageType = bytes(hdrOff) & 0xff
      val nCells = ((bytes(hdrOff + 3) & 0xff) << 8) | (bytes(hdrOff + 4) & 0xff)
      pageType match {
        case 5 =>
          val ptrArray = hdrOff + 12
          var i = 0
          while (i < nCells) {
            val cellOff = off + (((bytes(ptrArray + 2 * i) & 0xff) << 8) |
              (bytes(ptrArray + 2 * i + 1) & 0xff))
            walkTable(u32(bytes, cellOff).toInt)(f)
            i += 1
          }
          walkTable(u32(bytes, hdrOff + 8).toInt)(f)
        case 13 =>
          val ptrArray = hdrOff + 8
          var i = 0
          while (i < nCells) {
            val cellOff = off + (((bytes(ptrArray + 2 * i) & 0xff) << 8) |
              (bytes(ptrArray + 2 * i + 1) & 0xff))
            val (payloadLen, n1) = readVarint(bytes, cellOff)
            val (rowid, n2) = readVarint(bytes, cellOff + n1)
            val payload = readPayload(cellOff + n1 + n2, payloadLen.toInt)
            f(rowid, payload)
            i += 1
          }
        case 2 | 10 => // index pages: ignored (we only walk tables)
        case other =>
          throw new IllegalArgumentException(s"unexpected page type $other")
      }
    }

    /** Reassemble a possibly-overflowing leaf payload. */
    private def readPayload(localOff: Int, total: Int): Array[Byte] = {
      val u = usable
      val x = u - 35
      val local =
        if (total <= x) total
        else {
          val m = ((u - 12) * 32) / 255 - 23
          val k = m + (total - m) % (u - 4)
          if (k <= x) k else m
        }
      if (local == total)
        java.util.Arrays.copyOfRange(bytes, localOff, localOff + total)
      else {
        val out = new Array[Byte](total)
        System.arraycopy(bytes, localOff, out, 0, local)
        var next = u32(bytes, localOff + local).toInt
        var off = local
        while (next != 0 && off < total) {
          val pOff = page(next)
          val n = math.min(u - 4, total - off)
          System.arraycopy(bytes, pOff + 4, out, off, n)
          off += n
          next = u32(bytes, pOff).toInt
        }
        require(off == total, s"overflow chain truncated at $off/$total")
        out
      }
    }

    /** (name -> rootpage) of every table in sqlite_master. */
    def tables: Map[String, Int] = {
      val m = Map.newBuilder[String, Int]
      walkTable(1) { (_, payload) =>
        decodeRecord(payload) match {
          case Seq(TextValue("table"), TextValue(name), _, IntValue(root), _*) =>
            m += name -> root.toInt
          case _ => // indexes, views, triggers — skip
        }
      }
      m.result()
    }

    /** All rows of `table` as decoded value sequences. */
    def rows(table: String): Iterator[IndexedSeq[Value]] = {
      val root = tables.getOrElse(
        table,
        throw new IllegalArgumentException(s"no such table: $table"))
      val buf = ArrayBuffer.empty[IndexedSeq[Value]]
      walkTable(root)((_, payload) => buf += decodeRecord(payload))
      buf.iterator
    }
  }
}
