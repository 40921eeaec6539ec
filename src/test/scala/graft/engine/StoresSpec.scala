package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase
import graft.image.ImageCodec
import graft.streaming.StreamOps

class StoresSpec extends SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft-store").toString

  private def someTiles(n: Int): Seq[TileRow] =
    (0 until n).map { i =>
      TileRow.ok(
        3, i % 8, i / 8,
        ImageCodec.encode(ImageCodec.gradientImage(8, i.toLong), "png"),
        "image/png",
        Map("i" -> i.toString))
    }

  test("filesystem store round-trip via binaryFile + layout parse") {
    val root = tmp()
    val tiles = Stores.dict(spark, someTiles(10))
    Stores.writeFilesystem(tiles, root)
    val back = Stores.readFilesystem(spark, root)
    assert(back.count() == 10)
    val got = back.collect()
    got.foreach { r =>
      assert(r.getAs[Int]("z") == 3)
      assert(ImageCodec.sniffContentType(r.getAs[Array[Byte]]("data")).contains("image/png"))
    }
    assert(
      got.map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet ==
        (0 until 10).map(i => (i.toLong % 8, i.toLong / 8)).toSet)
  }

  test("store registry dispatches by scheme (ref TileStore.load)") {
    val p = Stores.open(spark, "pyramid://4/8/5:+3/+1/+1")
    assert(p.count() == 85)
    assert(Stores.open(spark, "null://").count() == 0)
    val root = tmp()
    Stores.writeFilesystem(Stores.dict(spark, someTiles(3)), root)
    assert(Stores.open(spark, s"file://$root").count() == 3)
    val mb = tmp()
    graft.sources.MBTiles.write(
      Stores.dict(spark, someTiles(5)), mb + "/a.mbtiles")
    assert(Stores.open(spark, s"mbtiles://$mb").count() == 5)
    intercept[IllegalArgumentException](Stores.open(spark, "redis://nope"))
  }

  test("zip store round-trip; layout/content-type auto-detect (ref store/zip.py)") {
    val dir = tmp() + "/zips"
    Stores.writeZip(Stores.dict(spark, someTiles(10)).repartition(2), dir)
    assert(
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".zip")) >= 1)
    val back = Stores.readZip(spark, dir)
    assert(back.count() == 10)
    val got = back.collect()
    got.foreach { r =>
      assert(r.getAs[Int]("z") == 3)
      assert(r.getAs[String]("content_type") == "image/png")
      assert(
        ImageCodec.sniffContentType(r.getAs[Array[Byte]]("data"))
          .contains("image/png"))
    }
    assert(
      got.map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet ==
        (0 until 10).map(i => (i.toLong % 8, i.toLong / 8)).toSet)
    // registry dispatch
    assert(Stores.open(spark, s"zip://$dir").count() == 10)
  }

  test("archive sinks accept Hadoop URIs: zip and mbtiles written to file:// read back") {
    // java.nio reads "file:///d" as the RELATIVE path "file:/d"; the
    // sinks must resolve it through the Hadoop FileSystem instead
    val uri = new java.io.File(tmp()).toURI.toString.stripSuffix("/")
    assert(uri.startsWith("file:/"))
    Stores.writeZip(Stores.dict(spark, someTiles(6)).repartition(2), s"$uri/zips")
    graft.sources.MBTiles.write(Stores.dict(spark, someTiles(5)), s"$uri/mb/a.mbtiles")
    val zips = Stores.open(spark, s"zip://$uri/zips").collect()
    assert(zips.map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet ==
      (0 until 6).map(i => (i.toLong % 8, i.toLong / 8)).toSet)
    val mb = Stores.open(spark, s"mbtiles://$uri/mb").collect()
    assert(mb.map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet ==
      (0 until 5).map(i => (i.toLong % 8, i.toLong / 8)).toSet)
  }

  test("zip reader drops non-layout entries (ref zip.py list ValueError)") {
    val dir = tmp() + "/zips2"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val out = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(dir, "a.zip")))
    def put(name: String, data: Array[Byte]): Unit = {
      out.putNextEntry(new java.util.zip.ZipEntry(name)); out.write(data)
      out.closeEntry()
    }
    put("readme.txt", "hi".getBytes)
    put("5/1/2.png", ImageCodec.encode(ImageCodec.gradientImage(8, 1L), "png"))
    put("deep/prefix/5/3/4.png",
      ImageCodec.encode(ImageCodec.gradientImage(8, 2L), "png"))
    out.close()
    val back = Stores.readZip(spark, dir).collect()
    assert(back.length == 2)
    assert(back.map(r => (r.getLong(1), r.getLong(2))).toSet == Set((1L, 2L), (3L, 4L)))
  }

  test("tileJson config parse (ref store/tilejson.py)") {
    val cfg = Stores.tileJson(
      """{"name":"osm","tiles":["http://a.example/{z}/{x}/{y}.png",
        |"http://b.example/{z}/{x}/{y}.png"],
        |"minzoom":3,"maxzoom":5,"bounds":[-10.0,-10.0,10.0,10.0],
        |"attribution":"(c) osm"}""".stripMargin)
    assert(cfg.layouts.size == 2)
    assert(
      cfg.layouts.head.filename(graft.core.TileCoord(3, 1, 2)) ==
        "http://a.example/3/1/2.png")
    assert(cfg.contentType.contains("image/png"))
    assert(cfg.metadata("attribution") == "(c) osm")
    assert(cfg.boundingPyramid.zs.toSet == Set(3, 4, 5))
    // bounds straddle the center: z=3 must include tiles 3 and 4 both ways
    val (xb, yb) = cfg.boundingPyramid.zget(3)
    assert(xb.contains(3) && xb.contains(4) && yb.contains(3) && yb.contains(4))
    // no bounds -> full pyramid
    val full = Stores.tileJson("""{"tiles":["http://t/{z}/{x}/{y}.jpg"],
      |"minzoom":0,"maxzoom":2}""".stripMargin)
    assert(full.contentType.contains("image/jpeg"))
    assert(full.boundingPyramid.size == 1 + 4 + 16)
  }

  test("log store round-trip") {
    val root = tmp() + "/log"
    Stores.writeLog(Stores.dict(spark, someTiles(5)), root)
    val back = Stores.readLog(spark, root).collect()
    assert(back.length == 5)
    // the log store is coordinates-only by design (reference
    // store/log.py writes layout paths as text lines) — pin the FULL
    // (z,x,y) set, not just z, so a reader that zeroed x/y would fail
    val got = back.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = someTiles(5).map(t => (t.z, t.x, t.y)).toSet
    assert(got == want)
  }

  test("queue codec round-trip (reference store/queue.py wire format)") {
    val df = Stores.dict(spark, someTiles(4))
      .select(
        Stores.encodeQueueMessage(
          col("z"), col("x"), col("y"), col("n"), col("metadata")).as("msg"),
        col("z"), col("x"), col("y"))
    val decoded = df
      .withColumn("t", Stores.decodeQueueMessage(col("msg")))
      .select(col("z"), col("x"), col("y"), col("t.x").as("dx"),
        col("t.z").as("dz"), col("t.y").as("dy"), col("t.n").as("dn"),
        col("t.metadata").as("md"))
      .collect()
    decoded.foreach { r =>
      assert(r.getAs[Int]("z") == r.getAs[Int]("dz"))
      assert(r.getAs[Long]("x") == r.getAs[Long]("dx"))
      // every field must survive the wire: a swapped y/n struct slot or
      // a mis-typed schema field decodes as null/garbage here
      assert(r.getAs[Long]("y") == r.getAs[Long]("dy"))
      assert(r.getAs[Int]("dn") == 1)
      val md = r.getAs[Map[String, String]]("md")
      assert(md.get("i").exists(_.nonEmpty))
    }
  }

  test("mask store: presence bitmap round-trip") {
    val tiles = Stores.dict(spark, someTiles(10))
    val mask = Stores.toMask(tiles, 3, 0, 8)
    val back = Stores.fromMask(mask, 3, 0)
      .collect().map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet
    assert(back == (0 until 10).map(i => (i.toLong % 8, i.toLong / 8)).toSet)
  }

  test("findFirst coalesces across prioritized stores") {
    val s = spark
    import s.implicits._
    val coords = Seq((3, 0L, 0L), (3, 1L, 0L), (3, 2L, 0L)).toDF("z", "x", "y")
    val s1 = Seq((3, 0L, 0L, "a".getBytes)).toDF("z", "x", "y", "data")
    val s2 = Seq((3, 0L, 0L, "b".getBytes), (3, 1L, 0L, "b".getBytes))
      .toDF("z", "x", "y", "data")
    val out = Stores.findFirst(coords, Seq(s1, s2)).collect()
    assert(out.length == 2)
    val byCoord = out.map(r => (r.getAs[Long]("x"), new String(r.getAs[Array[Byte]]("data")))).toMap
    assert(byCoord(0L) == "a") // priority store wins
    assert(byCoord(1L) == "b") // fallback fills
  }

  test("searchUp finds nearest ancestor payload") {
    val s = spark
    import s.implicits._
    val store = Seq(
      (1, 0L, 0L, "z1".getBytes),
      (2, 1L, 1L, "z2".getBytes)).toDF("z", "x", "y", "data")
    val coords = Seq((3, 2L, 2L), (3, 7L, 7L), (3, 3L, 3L)).toDF("z", "x", "y")
    val out = Stores.searchUp(coords, store, 8).collect()
    val byCoord = out.map(r =>
      ((r.getAs[Long]("x"), r.getAs[Long]("y")),
        (new String(r.getAs[Array[Byte]]("data")), r.getAs[Int]("d")))).toMap
    // (3,2,2) -> parent (2,1,1) hit at d=1
    assert(byCoord((2L, 2L)) == ("z2", 1))
    // (3,3,3) -> (2,1,1) at d=1
    assert(byCoord((3L, 3L)) == ("z2", 1))
    // (3,7,7) -> (2,3,3) miss, (1,1,1) miss, (0,0,0) miss -> no row...
    assert(!byCoord.contains((7L, 7L)))
  }

  test("searchUp over a FreeTileGrid walks the grid's own parent chain") {
    val s = spark
    import s.implicits._
    // swiss-style resolution ladder: z1's parent is z0 (factor 50),
    // z2's parent is z1 (factor 2), z3's parent is z2 (factor 2)
    val grid = graft.core.FreeTileGrid(
      resolutions = IndexedSeq(100.0, 2.0, 1.0, 0.5),
      maxExtent = graft.core.Extent(420000.0, 30000.0, 900000.0, 350000.0),
      tileSize = 256.0)
    // cross-check the driver-side chain against grid.parent itself
    val tc = graft.core.TileCoord(3, 37L, 21L)
    val p1 = grid.parent(tc).get
    val p2 = grid.parent(p1).get
    assert((p1.z, p1.x, p1.y) == (2, 18L, 10L))
    assert((p2.z, p2.x, p2.y) == (1, 9L, 5L))
    val store = Seq(
      (1, 9L, 5L, "z1hit".getBytes),
      (0, 0L, 0L, "root".getBytes)).toDF("z", "x", "y", "data")
    val coords = Seq((3, 37L, 21L), (3, 500L, 500L), (2, 18L, 10L)).toDF("z", "x", "y")
    val out = Stores.searchUp(coords, store, grid).collect()
      .map(r => ((r.getAs[Int]("z"), r.getAs[Long]("x"), r.getAs[Long]("y")),
        (new String(r.getAs[Array[Byte]]("data")), r.getAs[Int]("d")))).toMap
    // (3,37,21): z2 miss -> z1 (9,5) HIT at d=2
    assert(out((3, 37L, 21L)) == ("z1hit", 2))
    // (2,18,10): z1 (9,5) HIT at d=1
    assert(out((2, 18L, 10L)) == ("z1hit", 1))
    // (3,500,500): z1 (125,125) miss -> z0 (2,2) miss; root (0,0) only
    // matches coords dividing down to zero — not this one
    assert(!out.contains((3, 500L, 500L)))
  }

  test("streaming queue consumer: decode, process, resume-idempotent sink") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val sink = tmp() + "/sink"
    val ckpt = tmp() + "/ckpt"

    val mem = MemoryStream[String]
    val enc = Stores.dict(spark, someTiles(6))
      .select(Stores.encodeQueueMessage(
        col("z"), col("x"), col("y"), col("n"), col("metadata")).as("m"))
      .collect().map(_.getString(0))
    mem.addData(enc.toSeq)
    val q = StreamOps.runQueueConsumer(
      mem.toDF().select(col("value")), sink, ckpt)
    q.awaitTermination(60000)
    val out1 = spark.read.parquet(sink)
    assert(out1.count() == 6)

    // restart with the same checkpoint and no new data: nothing re-emitted
    val q2 = StreamOps.runQueueConsumer(
      mem.toDF().select(col("value")), sink, ckpt)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(sink).count() == 6)
  }

  test("hourly window agg: exact buckets and values on a crafted batch") {
    val s = spark
    import s.implicits._
    // 3 events in hour H for type a (max_v 9), 1 in hour H+1; window
    // boundaries and aggregate VALUES are pinned, not just the shape
    val base = java.sql.Timestamp.valueOf("2026-03-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val events = Seq(
      ("a", at(1), 4.0), ("a", at(30), 9.0), ("a", at(59), 2.0),
      ("a", at(61), 7.0), ("b", at(5), 1.0))
      .toDF("event_type", "ts", "value")
    val got = StreamOps.hourlyEventCounts(events)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == Set(
      (base, "a", 3L, 9.0),
      (at(60), "a", 1L, 7.0),
      (base, "b", 1L, 1.0)), s"got $got")
  }

  test("bucketed tile tables join co-located: no exchange on either side") {
    val s = spark
    import s.implicits._
    def tiles(seed: Int) = (0 until 200).map { i =>
      (3, (i * seed % 8).toLong, (i % 8).toLong, s"payload-$seed-$i")
    }.toDF("z", "x", "y", "payload")
    TileTable.writeBucketed(tiles(1), "bkt_a", buckets = 8)
    TileTable.writeBucketed(tiles(3), "bkt_b", buckets = 8)
    try {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // bucket keys (x,y) are a subset of the join keys (z,x,y); subset
      // co-partitioning is correct (same (x,y) => same bucket) but
      // gated behind this conservative-by-default flag
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      try {
        val a = TileTable.readBucketed(spark, "bkt_a")
        val b = TileTable.readBucketed(spark, "bkt_b")
        val joined = a.join(b, Seq("z", "x", "y"))
        assert(joined.count() > 0)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "true")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }
}
