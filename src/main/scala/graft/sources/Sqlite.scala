package graft.sources

import scala.collection.mutable.ArrayBuffer

import graft.core.ByteSlice

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
    * carries 8 payload bits (read back by [[ByteSlice.varint]]). */
  def writeVarint(out: ArrayBuffer[Byte], v: Long): Unit =
    if ((v >>> 56) != 0) {
      (0 until 8).foreach(i => out += (((v >>> (57 - 7 * i)) & 0x7f) | 0x80).toByte)
      out += v.toByte
    } else
      (varintSize(v) - 1 to 0 by -1).foreach { i =>
        out += (((v >>> (7 * i)) & 0x7f) | (if (i > 0) 0x80 else 0)).toByte
      }

  /** The bytes [[writeVarint]] writes for `v`. */
  private def varintSize(v: Long): Int =
    if ((v >>> 56) != 0) 9 else math.max(1, (70 - java.lang.Long.numberOfLeadingZeros(v)) / 7)

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
        body ++= ByteSlice.pack(nBytes)(v)
      case FloatValue(v) =>
        writeVarint(types, 7L)
        body ++= ByteSlice.pack(8)(java.lang.Double.doubleToLongBits(v))
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
    val r = ByteSlice(payload)
    val (hdrLen, n0) = r.varint(0)
    var p = n0.toLong
    val types = ArrayBuffer.empty[Long]
    while (p < hdrLen) {
      val (t, n) = r.varint(p)
      types += t
      p += n
    }
    var body = hdrLen
    types.map { t =>
      def intOf(nBytes: Int): Long = {
        val v = r.signed(body, nBytes)
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
          val len = (n - 12) / 2
          val v = r.bytes(body, len)
          body += len
          BlobValue(v)
        case n if n >= 13 =>
          val len = (n - 13) / 2
          val v = r.string(body, len, "UTF-8")
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
    def apply(n: Int): ByteSlice = ByteSlice(pages(n - 1))
  }

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

  /** Append `payload`'s first `local` bytes to `cell`; the rest goes to
    * a chain of newly allocated overflow pages (next-page pointer, then
    * data), and the chain's first page number ends the cell. */
  private def spill(pages: Pages, cell: ArrayBuffer[Byte], payload: Array[Byte], local: Int): Unit = {
    cell ++= payload.slice(0, local)
    if (local < payload.length) {
      val starts = local until payload.length by (PageSize - 4)
      val first = pages.alloc()
      starts.tail.foreach(_ => pages.alloc())
      starts.zipWithIndex.foreach { case (off, i) =>
        val p = pages(first + i)
        p.putU32(0, if (i + 1 < starts.length) first + i + 1L else 0L)
        p.put(4, payload.slice(off, off + PageSize - 4))
      }
      cell ++= ByteSlice.pack(4)(first.toLong)
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
      spill(pages, cell, payload, local)
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
      p.putU8(0, 13)
      p.putU16(3, pending.length)
      var content = PageSize
      var ptrOff = 8
      pending.foreach { c =>
        content -= c.bytes.length
        p.put(content, c.bytes)
        p.putU16(ptrOff, content)
        ptrOff += 2
      }
      p.putU16(5, content)
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
      p.putU8(0, 13)
      p.putU16(3, 0)
      p.putU16(5, PageSize)
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
          buf ++= ByteSlice.pack(4)(level(i)._1.toLong)
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
        p.putU8(0, 5)
        p.putU16(3, cells.length)
        p.putU32(8, level(i)._1.toLong)
        var content = PageSize
        var ptrOff = 12
        cells.foreach { c =>
          content -= c.length
          p.put(content, c)
          p.putU16(ptrOff, content)
          ptrOff += 2
        }
        p.putU16(5, content)
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
    def cellSize(payloadLen: Int): Int = {
      val local = indexLocal(payloadLen)
      varintSize(payloadLen.toLong) + local + (if (local < payloadLen) 4 else 0)
    }
    /** Encode + place one cell; allocates any overflow chain NOW. */
    def cellBytes(payload: Array[Byte]): Array[Byte] = {
      val local = indexLocal(payload.length)
      val cell = ArrayBuffer.empty[Byte]
      writeVarint(cell, payload.length.toLong)
      spill(pages, cell, payload, local)
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
      p.putU8(0, 10)
      p.putU16(3, pending.length)
      var content = PageSize
      var ptrOff = 8
      pending.foreach { payload =>
        val c = cellBytes(payload)
        content -= c.length
        p.put(content, c)
        p.putU16(ptrOff, content)
        ptrOff += 2
      }
      p.putU16(5, content)
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
        p.putU8(0, 2)
        p.putU16(3, group.length)
        p.putU32(8, kids(i).toLong)
        var content = PageSize
        var ptrOff = 12
        group.foreach { gi =>
          val c = cellBytes(divs(gi))
          content -= c.length + 4
          p.putU32(content, kids(gi).toLong)
          p.put(content + 4, c)
          p.putU16(ptrOff, content)
          ptrOff += 2
        }
        p.putU16(5, content)
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
    p1.putU8(100, 13)
    p1.putU16(103, masterRecords.length)
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
      p1.put(content, cell.toArray)
      p1.putU16(ptrOff, content)
      ptrOff += 2
    }
    p1.putU16(105, content)
    // 100-byte file header
    p1.put(0, "SQLite format 3".getBytes("UTF-8") :+ 0.toByte)
    p1.putU16(16, PageSize)
    // write and read versions 1 (legacy), 0 reserved bytes per page,
    // payload fractions 64/32/32
    p1.put(18, Array[Byte](1, 1, 0, 64, 32, 32))
    p1.putU32(24, 1L) // change counter
    p1.putU32(28, pages.pages.length.toLong) // db size in pages
    p1.putU32(40, 1L) // schema cookie
    // schema format 4: serial types 8/9 (integer 0/1 constants, which
    // encodeRecord emits) are only legal under format 4+ per
    // sqlite.org/fileformat2.html §Record Format
    p1.putU32(44, 4L)
    p1.putU32(56, 1L) // text encoding: UTF-8
    p1.putU32(60, userVersion) // e.g. GeoPackage spec version stamp
    p1.putU32(68, applicationId) // e.g. 0x47504B47 "GPKG"
    p1.putU32(92, 1L) // version-valid-for == change counter
    p1.putU32(96, 3045001L) // sqlite version number stamp
    pages.pages.foreach(out.write)
  }

  // ---------------------------------------------------------------- //
  // reader
  // ---------------------------------------------------------------- //

  /** Parsed database held fully in memory (MBTiles archives are
    * single-file units, like zip archives — the distributed axis is
    * many archives, not one giant file). */
  final class Database(bytes: Array[Byte]) {
    private val file = ByteSlice(bytes)
    require(bytes.length >= 100, "not a SQLite file: too short")
    require(
      file.string(0, 15, "UTF-8") == "SQLite format 3",
      "not a SQLite file: bad magic")
    val pageSize: Int = {
      val v = file.u16(16)
      if (v == 1) 65536 else v
    }
    val reserved: Int = file.u8(20)
    val usable: Int = pageSize - reserved
    require(pageSize >= 512 && (pageSize & (pageSize - 1)) == 0 && usable >= 480,
      s"bad page size $pageSize with $reserved reserved bytes")
    private val textEncoding = file.u32(56)
    require(
      textEncoding <= 1,
      s"unsupported text encoding $textEncoding (UTF-16 dbs out of scope)")

    private def page(n: Long): ByteSlice = file.slice((n - 1) * pageSize, pageSize)

    /** Walk a table b-tree rooted at `root`, invoking f per (rowid,
      * record payload). Each b-tree and overflow page is visited at most
      * once: a pointer back to a visited page (a cycle, or an overflow
      * page shared by two cells) throws instead of walking forever. The
      * walk keeps its own stack, in the order a recursive in-order
      * descent would visit the pages. */
    def walkTable(root: Int)(f: (Long, Array[Byte]) => Unit): Unit = {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      def visit(n: Long): ByteSlice = {
        require(seen.add(n), s"page $n is reached twice")
        page(n)
      }
      val stack = scala.collection.mutable.Stack[Long](root.toLong)
      while (stack.nonEmpty) {
        val n = stack.pop()
        val p = visit(n)
        val hdr = if (n == 1) 100 else 0
        val nCells = p.u16(hdr + 3)
        p.u8(hdr) match {
          case 5 =>
            stack.push(p.u32(hdr + 8))
            var i = nCells - 1
            while (i >= 0) {
              stack.push(p.u32(p.u16(hdr + 12 + 2 * i)))
              i -= 1
            }
          case 13 =>
            var i = 0
            while (i < nCells) {
              val cell = p.u16(hdr + 8 + 2 * i)
              val (payloadLen, n1) = p.varint(cell)
              val (rowid, n2) = p.varint(cell + n1)
              f(rowid, readPayload(p, cell + n1 + n2, payloadLen, visit))
              i += 1
            }
          case 2 | 10 => // index pages: ignored (we only walk tables)
          case other =>
            throw new IllegalArgumentException(s"unexpected page type $other")
        }
      }
    }

    /** Reassemble a possibly-overflowing leaf payload of `total` bytes
      * whose local part starts at `localOff` of page `p`, reading its
      * overflow pages through `visit`. A payload cannot hold more bytes
      * than the file, so a larger length field is rejected before
      * anything is allocated. */
    private def readPayload(p: ByteSlice, localOff: Int, total0: Long,
        visit: Long => ByteSlice): Array[Byte] = {
      require(total0 >= 0 && total0 <= bytes.length,
        s"payload length $total0 exceeds the file (${bytes.length} bytes)")
      val total = total0.toInt
      val u = usable
      val x = u - 35
      val local =
        if (total <= x) total
        else {
          val m = ((u - 12) * 32) / 255 - 23
          val k = m + (total - m) % (u - 4)
          if (k <= x) k else m
        }
      if (local == total) p.bytes(localOff, total)
      else {
        val out = new Array[Byte](total)
        p.copyTo(localOff, local, out, 0)
        var next = p.u32(localOff + local)
        var off = local
        while (next != 0 && off < total) {
          val o = visit(next)
          val n = math.min(u - 4, total - off)
          o.copyTo(4, n, out, off)
          off += n
          next = o.u32(0)
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
