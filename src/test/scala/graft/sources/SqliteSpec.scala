package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.ByteSlice
import graft.sources.Sqlite._

/** The pure-JVM SQLite codec, validated three ways: unit round-trips,
  * a Spark-level MBTiles round-trip (overflow blobs + interior pages),
  * and — the decisive check — byte-level cross-validation against the
  * GENUINE SQLite library (CPython stdlib sqlite3) via
  * tools/mbtiles_oracle.py: our files must pass `PRAGMA
  * integrity_check` and dump identically; real files must parse
  * identically here. */
class SqliteSpec extends SparkTestBase {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft-sqlite").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def python3: Option[String] =
    Seq("/usr/bin/python3", "/usr/local/bin/python3")
      .find(p => Files.isExecutable(Paths.get(p)))

  private def run(cmd: Seq[String]): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  /** Same deterministic payload family as the oracle tool. */
  private def tileBytes(i: Int): Array[Byte] = {
    val n = if (i % 7 == 3) 9000 else 40 + (i % 50)
    Array.tabulate(n)(j => ((i * 31 + j) % 256).toByte)
  }

  test("varint + record codecs round-trip the full value range") {
    val vals = Seq(0L, 1L, 127L, 128L, 16383L, 16384L, 1L << 35,
      (1L << 56) - 1, 1L << 56, Long.MaxValue, -1L, Long.MinValue)
    vals.foreach { v =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
      writeVarint(buf, v)
      val (got, n) = ByteSlice(buf.toArray).varint(0)
      assert(got == v && n == buf.length, s"varint $v")
    }
    val rec = Seq(
      IntValue(0), IntValue(1), IntValue(-5), IntValue(300), IntValue(1L << 40),
      FloatValue(3.5), TextValue("héllo"), BlobValue(Array[Byte](1, 2, 3)),
      NullValue)
    val decoded = decodeRecord(encodeRecord(rec))
    assert(decoded.length == rec.length)
    rec.zip(decoded).foreach {
      case (BlobValue(a), BlobValue(b)) => assert(a.sameElements(b))
      case (a, b)                       => assert(a == b)
    }
  }

  test("mbtiles write -> read round-trip (overflow blobs, interior pages)") {
    val s = spark
    import s.implicits._
    val n = 3000 // enough rows for multiple leaves + an interior level
    val tiles = (0 until n).map { i =>
      (6, (i % 64).toLong, (i / 64).toLong, tileBytes(i))
    }.toDF("z", "x", "y", "data")
    val path = tmp() + "/out.mbtiles"
    MBTiles.write(tiles, path, Map("name" -> "rt", "format" -> "png"))

    val back = MBTiles.read(spark, path).collect()
    assert(back.length == n)
    val byCoord = back.map(r =>
      ((r.getAs[Long]("x"), r.getAs[Long]("y")), r.getAs[Array[Byte]]("data"))).toMap
    (0 until n).foreach { i =>
      val key = ((i % 64).toLong, (i / 64).toLong)
      assert(byCoord(key).sameElements(tileBytes(i)), s"tile $i")
    }
    val meta = MBTiles.readMetadata(Files.readAllBytes(Paths.get(path)))
    assert(meta("name") == "rt" && meta("format") == "png")
    assert(meta("minzoom") == "6" && meta("maxzoom") == "6")
  }

  test("sharded write: one archive per partition, distributed read recovers all") {
    val s = spark
    import s.implicits._
    val n = 600
    val tiles = (0 until n).map { i =>
      (4 + i % 3, (i % 40).toLong, (i / 40).toLong, tileBytes(i))
    }.toDF("z", "x", "y", "data")
    val dir = tmp() + "/shards"
    MBTiles.writeSharded(tiles.repartition(3), dir, Map("name" -> "sh"))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".mbtiles"))
    assert(files.length == 3, s"expected 3 shards, got ${files.length}")
    val back = MBTiles.read(spark, dir)
    assert(back.count() == n)
    val got = back.collect()
      .map(r => (r.getAs[Int]("z"), r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet
    val want = (0 until n).map(i => (4 + i % 3, (i % 40).toLong, (i / 40).toLong)).toSet
    assert(got == want)
    // each shard is a genuine SQLite db with its own zoom-range metadata
    python3.foreach { py =>
      val (c, out) = run(Seq(py, "tools/mbtiles_oracle.py", "check", files.head.getPath))
      assert(c == 0 && out.startsWith("integrity:ok"), out.take(300))
      assert(out.linesIterator.exists(_.startsWith("meta:minzoom=")))
    }
  }

  test("files we write pass real SQLite's integrity_check and dump identically") {
    python3 match {
      case None => cancel("python3 not available for cross-validation")
      case Some(py) =>
        val s = spark
        import s.implicits._
        val n = 500
        // mirror the oracle's `make` contents exactly, via OUR writer;
        // note: oracle tile_row IS the stored row — write topleft so the
        // stored rows match without a flip
        val tiles = (0 until n).map { i =>
          (6, (i % 64).toLong, (i / 64).toLong, tileBytes(i))
        }.toDF("z", "x", "y", "data")
        val path = tmp() + "/ours.mbtiles"
        MBTiles.write(
          tiles, path, Map("name" -> "oracle", "format" -> "png"),
          tilecoordInTopleft = true)
        val (code, out) = run(Seq(py, "tools/mbtiles_oracle.py", "check", path))
        assert(code == 0, out.take(500))
        assert(out.linesIterator.next() == "integrity:ok", out.take(500))
        val tilesDumped = out.linesIterator.count(_.startsWith("tile:"))
        assert(tilesDumped == n)
        // the PK autoindex b-tree WE wrote is visible to the real
        // library and actually used for the point lookup (index seek,
        // not a table scan)
        assert(out.linesIterator.exists(
          _.startsWith("index:sqlite_autoindex_tiles_1:unique=1")), out.take(800))
        assert(out.linesIterator.exists(l =>
          l.startsWith("plan:") && l.contains("USING INDEX sqlite_autoindex_tiles_1")),
          out.linesIterator.filter(_.startsWith("plan:")).mkString("|"))
        // canonical digests match the real-sqlite-written twin below
        val twin = tmp() + "/real.mbtiles"
        val (mc, mo) = run(Seq(py, "tools/mbtiles_oracle.py", "make", twin, n.toString))
        assert(mc == 0, mo)
        val (_, twinDump) = run(Seq(py, "tools/mbtiles_oracle.py", "check", twin))
        def canon(dump: String) = dump.linesIterator
          .filter(l => l.startsWith("tile:") || l.startsWith("meta:"))
          // minzoom/maxzoom are our writer's derived additions
          .filterNot(l => l.startsWith("meta:minzoom") || l.startsWith("meta:maxzoom"))
          .toSeq.sorted
        assert(canon(out) == canon(twinDump))
    }
  }

  test("no zero-cell interior pages across leaf-count sweep; 2-level index passes integrity_check") {
    // ~490-byte keys make index cells ~500 B, so leaves hold ~8 entries
    // and a few thousand rows reach multiple interior levels. The sweep
    // crosses the child-count ≡ 1 (mod group cap) boundaries (index cap
    // 300, table cap 340) where the level's last child used to start
    // its own group and emit a ZERO-CELL interior page.
    val pad = "x" * 480
    def key(i: Int) = f"k$i%07d" + pad
    def dbBytes(n: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      writeDatabase(
        out,
        Seq(Table("t", "CREATE TABLE t (k TEXT UNIQUE)",
          (1 to n).iterator.map(i =>
            TableRow(i.toLong, encodeRecord(Seq(TextValue(key(i)))))))),
        indexes = Seq(IndexDef("sqlite_autoindex_t_1", "t", None,
          (1 to n).iterator.map(i =>
            encodeRecord(Seq(TextValue(key(i)), IntValue(i.toLong)))))))
      out.toByteArray
    }
    // (page type, cell count) for every page after page 1; no overflow
    // pages exist here (payloads < the ~1 KB local max), so the type
    // byte is trustworthy
    def pageStats(db: Array[Byte]): Seq[(Int, Int)] =
      (1 until db.length / 4096).map { p =>
        val off = p * 4096
        (db(off) & 0xff, ((db(off + 3) & 0xff) << 8) | (db(off + 4) & 0xff))
      }
    var deepIndexN = 0 // an n whose index has 2 interior levels
    var indexLeafCounts = Set.empty[Int]
    var tableLeafCounts = Set.empty[Int]
    (2300 to 2900 by 4).foreach { n =>
      val db = dbBytes(n)
      val stats = pageStats(db)
      val zero = stats.filter { case (t, c) => (t == 2 || t == 5) && c == 0 }
      assert(zero.isEmpty, s"n=$n wrote ${zero.length} zero-cell interior page(s)")
      indexLeafCounts += stats.count(_._1 == 10)
      tableLeafCounts += stats.count(_._1 == 13)
      if (deepIndexN == 0 && stats.count(_._1 == 2) >= 3) deepIndexN = n
    }
    // the sweep actually crossed both dangerous boundaries (index
    // interior groups consume 301 children/page, table groups 341)
    assert(indexLeafCounts.exists(_ <= 301) && indexLeafCounts.exists(_ >= 302),
      s"sweep must cross 302 index leaves, saw $indexLeafCounts")
    assert(indexLeafCounts.contains(302),
      s"sweep must include exactly-302-leaf case, saw $indexLeafCounts")
    assert(tableLeafCounts.contains(342),
      s"sweep must include exactly-342-leaf case, saw $tableLeafCounts")
    assert(deepIndexN > 0, "sweep must reach a 2-interior-level index")
    // decisive: the genuine library accepts the deep file and seeks
    // through OUR 2-level interior pages
    python3.foreach { py =>
      val dir = tmp()
      val dbPath = dir + "/deep.db"
      Files.write(Paths.get(dbPath), dbBytes(deepIndexN))
      val script = dir + "/check.py"
      Files.writeString(Paths.get(script),
        """import sqlite3, sys
          |c = sqlite3.connect(sys.argv[1])
          |print("integrity:" + c.execute("PRAGMA integrity_check").fetchone()[0])
          |k = sys.argv[2]
          |plan = " ".join(str(r) for r in c.execute(
          |    "EXPLAIN QUERY PLAN SELECT rowid FROM t WHERE k = ?", (k,)))
          |print("plan:" + plan)
          |print("row:" + str(c.execute(
          |    "SELECT rowid FROM t WHERE k = ?", (k,)).fetchone()[0]))
          |print("count:" + str(c.execute("SELECT count(*) FROM t").fetchone()[0]))
          |""".stripMargin)
      val probe = deepIndexN / 2
      val (code, out) = run(Seq(py, script, dbPath, key(probe)))
      assert(code == 0, out.take(500))
      assert(out.linesIterator.next() == "integrity:ok", out.take(500))
      assert(out.linesIterator.exists(l =>
        l.startsWith("plan:") && l.contains("USING") && l.contains("INDEX")), out)
      assert(out.linesIterator.exists(_ == s"row:$probe"), out)
      assert(out.linesIterator.exists(_ == s"count:$deepIndexN"), out)
    }
  }

  test("files real SQLite writes (PK + autoindex) parse identically here") {
    python3 match {
      case None => cancel("python3 not available for cross-validation")
      case Some(py) =>
        val path = tmp() + "/real.mbtiles"
        val (code, out) = run(Seq(py, "tools/mbtiles_oracle.py", "make", path, "800"))
        assert(code == 0, out)
        val rows = MBTiles.read(spark, path, tilecoordInTopleft = true).collect()
        assert(rows.length == 800)
        rows.foreach { r =>
          val i = (r.getAs[Long]("y") * 64 + r.getAs[Long]("x")).toInt
          assert(r.getAs[Int]("z") == 6)
          assert(r.getAs[Array[Byte]]("data").sameElements(tileBytes(i)), s"tile $i")
        }
        val meta = MBTiles.readMetadata(Files.readAllBytes(Paths.get(path)))
        assert(meta == Map("name" -> "oracle", "format" -> "png"))
    }
  }
}
