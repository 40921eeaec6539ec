package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.image.ImageCodec
import graft.multimodal.Multimodal

/** Hostile-input behavior of the from-scratch codecs: truncated and
  * garbage archives must raise promptly (store reads fail LOUDLY —
  * the contract argued in MBTiles.read), while the multimodal
  * extractors route the same inputs to their error column without
  * throwing. Nothing may hang or succeed silently with wrong data:
  * a page walk that meets a cycle and a length field larger than the
  * file both end in an `Exception`, within a time bound. */
class RobustnessSpec extends SparkTestBase {
  import HostileInputSpec.{putU32, u16, within}

  private def tiles = (0 until 40).iterator.map { i =>
    (5L, (i % 8).toLong, (i / 8).toLong, Array.fill(50)(i.toByte))
  }

  test("sqlite/gpkg/bdb codecs reject truncated and garbage archives") {
    val gpkg = GeoPackage.encode(tiles, "tiles", minZ = 5, maxZ = 5)
    val bdb = Bsddb.encode(
      (0 until 40).map(i => (s"k$i".getBytes, Array.fill(30)(i.toByte))))
    for (cut <- Seq(0, 10, 99, 511, 600)) {
      intercept[Exception] {
        GeoPackage.decode(gpkg.take(math.min(cut, gpkg.length - 1))).toList
      }
      intercept[Exception] {
        Bsddb.decode(bdb.take(math.min(cut, bdb.length - 1))).toList
      }
    }
    val junk = Array.tabulate[Byte](8192)(i => (i * 37).toByte)
    intercept[Exception] { new Sqlite.Database(junk) }
    intercept[Exception] { GeoPackage.decode(junk).toList }
    intercept[Exception] { Bsddb.decode(junk).toList }
    // a valid header followed by corrupt pages must also fail, not
    // return partial rows
    val corrupt = gpkg.clone()
    java.util.Arrays.fill(corrupt, 4096, corrupt.length, 0x5a.toByte)
    intercept[Exception] { GeoPackage.decode(corrupt).toList }
  }

  test("multimodal extractors route garbage to the error column, never throw") {
    val s = spark
    import s.implicits._
    val junk = Seq(
      ("m1", Array.tabulate[Byte](64)(i => (i * 13).toByte)),
      ("m2", Array.emptyByteArray),
      ("m3", "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("ISO-8859-1")),
      ("m4", "ftyp".getBytes("UTF-8")))
      .toDF("media_id", "bytes")
    for (op <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      graft.multimodal.Multimodal.imageMeta,
      graft.multimodal.Multimodal.audioMeta,
      graft.multimodal.Multimodal.videoMeta,
      graft.multimodal.Multimodal.imagePhash)) {
      val out = op(junk)
      assert(out.count() === 4L)
      assert(out.where(col("error").isNull).count() === 0L)
    }
  }

  test("every multimodal extractor routes garbage and null bytes to the error column or drops them") {
    import graft.multimodal.Multimodal
    val s = spark
    import s.implicits._
    val junk = Seq(
      ("m1", Array.tabulate[Byte](64)(i => (i * 13).toByte)),
      ("m2", Array.emptyByteArray),
      ("m3", "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("ISO-8859-1")),
      ("m4", "ftyp".getBytes("UTF-8")),
      ("m5", null: Array[Byte]))
      .toDF("media_id", "bytes")
    val withError = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "imageMeta" -> Multimodal.imageMeta,
      "audioMeta" -> Multimodal.audioMeta,
      "videoMeta" -> Multimodal.videoMeta,
      "imagePhash" -> Multimodal.imagePhash,
      "exifMeta" -> Multimodal.exifMeta,
      "dhash" -> (Multimodal.imageHash64(_, "dhash")),
      "ahash" -> (Multimodal.imageHash64(_, "ahash")),
      "imagePhash256" -> Multimodal.imagePhash256,
      "mp4FrameSample" -> (Multimodal.mp4FrameSample(_)),
      "mp4FrameBytes" -> (Multimodal.mp4FrameBytes(_)),
      "orientNormalize" -> Multimodal.orientNormalize)
    for ((name, op) <- withError) {
      val out = op(junk).collect()
      assert(out.length === 5, name)
      assert(out.map(_.getAs[String]("media_id")).toSet === Set("m1", "m2", "m3", "m4", "m5"), name)
      assert(out.forall(_.getAs[String]("error") != null), name)
    }
    // no error column: bad rows are dropped
    assert(Multimodal.resizeImages(junk, 8).count() === 0L)
    assert(Multimodal.pixelRows(junk).count() === 0L)
  }

  test("an image header declaring a huge raster is rejected before decoding") {
    val s = spark
    import s.implicits._
    val png = ImageCodec.encode(new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB), "png")
    // IHDR: width and height at 16 and 20, its CRC over type and data at 29
    putU32(png, 16, 26000L, bigEndian = true)
    putU32(png, 20, 26000L, bigEndian = true)
    val crc = new java.util.zip.CRC32
    crc.update(png, 12, 17)
    putU32(png, 29, crc.getValue, bigEndian = true)
    val out = Multimodal.imageMeta(Seq(("m1", png)).toDF("media_id", "bytes")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("error").contains("decode cap"), out(0))
  }

  /** `decode` ends within 10 s by throwing an `IllegalArgumentException`;
    * run on a daemon thread, so a walk that never ends fails here
    * instead of hanging the suite. */
  private def rejectsInTime(decode: => Any): Unit =
    within(10)(decode) match {
      case None => fail("still running after 10 s")
      case Some(r) => assert(r.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]), r)
    }

  test("a SQLite b-tree page that is its own child fails instead of walking forever") {
    val db = GeoPackage.encode(tiles, "tiles", minZ = 5, maxZ = 5)
    // page 1: an interior table page (type 5) with 0 cells whose
    // right-most child is page 1
    db(100) = 5
    db(103) = 0
    db(104) = 0
    putU32(db, 108, 1L, bigEndian = true)
    rejectsInTime(new Sqlite.Database(db).tables)
  }

  test("a Berkeley DB page chain that loops back fails instead of yielding rows forever") {
    val one = Bsddb.encode(Seq(("k".getBytes, "v".getBytes)))
    putU32(one, Bsddb.PageSize + 16, 1L, bigEndian = false) // leaf 1's next page: itself
    rejectsInTime(Bsddb.decode(one).foreach(_ => ()))
    // the internal-page descent: the root's first child is the root
    val many = Bsddb.encode((0 until 400).map(i => (f"k$i%04d".getBytes, Array.fill(60)(i.toByte))))
    val root = u16(many, 88, bigEndian = false)
    val page = root * Bsddb.PageSize
    assert(many(page + 25) == Bsddb.PBtreeInternal)
    putU32(many, page + u16(many, page + Bsddb.HeaderSize, bigEndian = false) + 4, root.toLong, bigEndian = false)
    rejectsInTime(Bsddb.decode(many).foreach(_ => ()))
  }

  test("length fields larger than the file are rejected before anything is allocated") {
    // SQLite: the one tile's leaf cell declares a 0x7fffffff-byte payload
    val gpkg = GeoPackage.encode(Iterator((5L, 0L, 0L, Array.fill(300)(0x5a.toByte))), "tiles", 5, 5)
    val leaf = (new Sqlite.Database(gpkg).tables("tiles") - 1) * Sqlite.PageSize
    assert(gpkg(leaf) == 13)
    val cell = leaf + u16(gpkg, leaf + 8, bigEndian = true)
    // varint 0x7fffffff, then rowid 1
    Seq(0x87, 0xff, 0xff, 0xff, 0x7f, 0x01).zipWithIndex.foreach { case (v, i) => gpkg(cell + i) = v.toByte }
    intercept[IllegalArgumentException](GeoPackage.decode(gpkg).toList)
    // Berkeley DB: an overflow item that declares 0x7fffffff bytes
    val bdb = Bsddb.encode(Seq(("k".getBytes, Array.fill(3000)(1.toByte))))
    val items = for {
      p <- 1 until bdb.length / Bsddb.PageSize
      start = p * Bsddb.PageSize if bdb(start + 25) == Bsddb.PBtreeLeaf
      slot <- 0 until u16(bdb, start + 20, bigEndian = false)
      item = start + u16(bdb, start + Bsddb.HeaderSize + 2 * slot, bigEndian = false)
      if bdb(item + 2) == Bsddb.BOverflow
    } yield item
    assert(items.size == 1)
    putU32(bdb, items.head + 8, 0x7fffffffL, bigEndian = false)
    intercept[IllegalArgumentException](Bsddb.decode(bdb).toList)
    // MP4: 0x7fffffff uniform 64-byte samples; the parser rejects the
    // count, and videoMeta gives the row an error
    val mp4 = Multimodal.synthMp4(4)
    val stsz = new String(mp4, "ISO-8859-1").indexOf("stsz") + 4
    putU32(mp4, stsz + 4, 64L, bigEndian = true)
    putU32(mp4, stsz + 8, 0x7fffffffL, bigEndian = true)
    intercept[IllegalArgumentException](Multimodal.parseMp4(mp4))
    val s = spark
    import s.implicits._
    val meta = Multimodal.videoMeta(Seq(("v", mp4)).toDF("media_id", "bytes")).collect()
    assert(meta.length == 1 && meta.head.getAs[String]("error") != null)
  }

  test("a gzip payload that inflates past the cap gets an error, not an OutOfMemoryError") {
    val cap = 64 << 20 // ImageCodec's gunzip output cap
    val s = spark
    import s.implicits._
    val bomb = ImageCodec.gzip(new Array[Byte](cap + 1))
    val out = graft.engine.Filters.gzipDecompress(
      Seq(("bomb", bomb, "gzip")).toDF("id", "data", "content_encoding")).collect().head
    assert(out.getAs[String]("error") == "gzip decompression failed")
    assert(out.getAs[Array[Byte]]("data") == null)
    assert(ImageCodec.gunzip(ImageCodec.gzip(new Array[Byte](cap))).length == cap)
  }
}
