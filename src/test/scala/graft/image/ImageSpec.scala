package graft.image

import java.awt.image.BufferedImage

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.engine.{Corpus, Filters, TileRow}

/** Pixel-exact meta-tile fixtures (reference tests/test_metatile.py) and
  * the PSNR invariant for the lossy path. */
class ImageSpec extends SparkTestBase {

  /** The reference fixture: 2*ts x 2*ts RGBA, quadrant colors
    * (255,0,0,0) (0,255,0,0) / (0,0,255,0) (0,0,0,255)
    * (tests/test_metatile.py:17-24). Alpha is 0 on three quadrants —
    * pins verbatim-copy (non-blending) crop semantics. */
  private def refFixture(ts: Int, border: Int = 0): BufferedImage = {
    val size = 2 * ts + 2 * border
    val img = new BufferedImage(size, size, BufferedImage.TYPE_INT_ARGB)
    val h = size / 2
    val colors = Array(0x00ff0000, 0x0000ff00, 0x000000ff, 0xff000000)
    for (y <- 0 until size; x <- 0 until size) {
      val q = (if (y < h) 0 else 2) + (if (x < h) 0 else 1)
      img.setRGB(x, y, colors(q))
    }
    img
  }

  test("metatile split without border is pixel-exact (ref test_metatile.py:26-42)") {
    val ts = 2
    val meta = TileRow.ok(
      1, 0, 0, ImageCodec.encode(refFixture(ts), "png"), "image/png", Map("layer" -> "l"), n = 2)
    val s = spark
    import s.implicits._
    val out = MetaTileOps.split(Seq(meta).toDS(), tileSize = ts).collect()
    assert(out.length == 4)
    val byCoord = out.map(t => (t.x, t.y) -> t).toMap
    val expected = Map(
      (0L, 0L) -> 0x00ff0000, (1L, 0L) -> 0x0000ff00,
      (0L, 1L) -> 0x000000ff, (1L, 1L) -> 0xff000000)
    expected.foreach { case ((x, y), color) =>
      val t = byCoord((x, y))
      assert(t.z == 1 && t.error == null && t.metadata("layer") == "l")
      val img = ImageCodec.decode(t.data)
      assert(img.getWidth == ts && img.getHeight == ts)
      for (py <- 0 until ts; px <- 0 until ts)
        assert(img.getRGB(px, py) == color, s"tile ($x,$y) pixel ($px,$py)")
    }
  }

  test("metatile split with border crops interior (ref test_metatile.py:46-76)") {
    val ts = 2
    val border = 2
    val meta = TileRow.ok(
      1, 0, 0, ImageCodec.encode(refFixture(ts, border), "png"), "image/png", n = 2)
    val s = spark
    import s.implicits._
    val out =
      MetaTileOps.split(Seq(meta).toDS(), tileSize = ts, border = border).collect()
    assert(out.length == 4)
    // with ts=2, border=2: the 8x8 fixture's quadrant boundary (at 4)
    // aligns with the meta center; each child's corner pixel carries its
    // quadrant color
    val byCoord = out.map(t => (t.x, t.y) -> ImageCodec.decode(t.data)).toMap
    assert(byCoord((0L, 0L)).getRGB(0, 0) == 0x00ff0000)
    assert(byCoord((1L, 0L)).getRGB(1, 0) == 0x0000ff00)
    assert(byCoord((0L, 1L)).getRGB(0, 1) == 0x000000ff)
    assert(byCoord((1L, 1L)).getRGB(1, 1) == 0xff000000)
  }

  test("merge(split(meta)) == meta for PNG") {
    val ts = 4
    val src = ImageCodec.quadrantImage(2 * ts, 0xdeadbeefL)
    val meta =
      TileRow.ok(3, 4, 6, ImageCodec.encode(src, "png"), "image/png", n = 2)
    val s = spark
    import s.implicits._
    val tiles = MetaTileOps.split(Seq(meta).toDS(), tileSize = ts).toDF()
    val merged =
      MetaTileOps.merge(tiles.select("z", "x", "y", "data"), 2, ts).collect()
    assert(merged.length == 1)
    val m = merged.head
    assert(m.getAs[Int]("z") == 3 && m.getAs[Long]("x") == 4 && m.getAs[Long]("y") == 6)
    val img = ImageCodec.decode(m.getAs[Array[Byte]]("data"))
    for (y <- 0 until 2 * ts; x <- 0 until 2 * ts)
      assert(img.getRGB(x, y) == src.getRGB(x, y))
  }

  test("split propagates errors to every child as rows") {
    val s = spark
    import s.implicits._
    val bad = TileRow.failed(2, 0, 0, "upstream broke", n = 2)
    val noData = TileRow(2, 2, 2, 2, null, null, null, null, Map.empty)
    val out = MetaTileOps.split(Seq(bad, noData).toDS(), tileSize = 2).collect()
    assert(out.length == 8)
    assert(out.filter(_.error == "upstream broke").length == 4)
    assert(out.filter(_.error == "Metatile data is None").length == 4)
  }

  test("jpeg round trip meets PSNR >= 40 dB on corpus-like content") {
    val src = ImageCodec.gradientImage(64, 0x1234567890abcdL)
    val jpeg = ImageCodec.encode(src, "jpeg")
    val back = ImageCodec.decode(jpeg)
    assert(ImageCodec.psnr(src, back) >= 40.0)
  }

  test("content sniffing matches reference magic bytes (scala + column)") {
    val png = ImageCodec.encode(ImageCodec.quadrantImage(4, 1L), "png")
    val jpg = ImageCodec.encode(ImageCodec.quadrantImage(4, 1L), "jpeg")
    assert(ImageCodec.sniffContentType(png).contains("image/png"))
    assert(ImageCodec.sniffContentType(jpg).contains("image/jpeg"))
    assert(ImageCodec.sniffContentType("{\"a\":1}".getBytes).contains("application/json"))
    assert(ImageCodec.sniffContentType("plain".getBytes).isEmpty)

    val s = spark
    import s.implicits._
    val df = Seq(png, jpg, "{j}".getBytes, "xx".getBytes)
      .toDF("data")
      .select(Filters.contentTypeColumn(col("data")).as("ct"))
    assert(
      df.collect().map(_.getString(0)).toSeq ==
        Seq("image/png", "image/jpeg", "application/json", null))
  }

  test("gzip round trip and filter semantics") {
    val data = "tile-bytes-0123456789".getBytes
    assert(ImageCodec.gunzip(ImageCodec.gzip(data)).sameElements(data))

    val s = spark
    import s.implicits._
    val df = Seq((data, null: String)).toDF("data", "content_encoding")
    val zipped = Filters.gzipCompress(df).collect().head
    assert(zipped.getAs[String]("content_encoding") == "gzip")
    val unzipped = Filters.gzipDecompress(
      Seq((zipped.getAs[Array[Byte]]("data"), "gzip")).toDF("data", "content_encoding"))
      .collect().head
    assert(unzipped.getAs[Array[Byte]]("data").sameElements(data))
    assert(unzipped.getAs[String]("content_encoding") == null)
  }

  test("gzipDecompress routes a payload that is not gzip to the error column") {
    val s = spark
    import s.implicits._
    val data = "tile-bytes-0123456789".getBytes
    val df = Seq(
      ("bad", Array[Byte](1, 2, 3, 4, 5), "gzip"),
      ("good", ImageCodec.gzip(data), "gzip"))
      .toDF("id", "data", "content_encoding")
    val out = Filters.gzipDecompress(df)
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    // no error column in: one is appended
    assert(out.columns.toSeq == Seq("id", "data", "content_encoding", "error"))
    assert(rows("bad").getAs[String]("error") != null)
    assert(rows("bad").getAs[String]("content_encoding") == "gzip")
    assert(rows("good").getAs[String]("error") == null)
    assert(rows("good").getAs[Array[Byte]]("data").sameElements(data))
    assert(rows("good").getAs[String]("content_encoding") == null)
    // an existing error is kept as it is
    val upstream = Filters.gzipDecompress(
      df.withColumn("error", org.apache.spark.sql.functions.lit("upstream")))
    assert(upstream.columns.toSeq == Seq("id", "data", "content_encoding", "error"))
    assert(upstream.collect().forall(_.getAs[String]("error") == "upstream"))
  }

  test("optiPng shrinks or passes through, pixels bit-identical (ref filter/optipng.py)") {
    val img = ImageCodec.gradientImage(32, 7L)
    val png = ImageCodec.encode(img, "png")
    val opt = ImageCodec.optimizePng(png)
    assert(opt.length <= png.length)
    val a = ImageCodec.decode(png)
    val b = ImageCodec.decode(opt)
    for (y <- 0 until a.getHeight; x <- 0 until a.getWidth)
      assert(a.getRGB(x, y) == b.getRGB(x, y))

    val s = spark
    import s.implicits._
    val jpg = ImageCodec.encode(img, "jpeg")
    val df = Seq(
      (png, "image/png", null: String),
      (jpg, "image/jpeg", null: String),
      ("junk".getBytes, "image/png", null: String))
      .toDF("data", "content_type", "error")
    val out = Filters.optiPng(df).collect()
    val rows = out.map(r =>
      (r.getAs[String]("content_type"), r.getAs[Array[Byte]]("data"), r.getAs[String]("error")))
    val okPng = rows.find(r => r._1 == "image/png" && r._3 == null).get
    assert(okPng._2 != null && okPng._2.length <= png.length)
    val passJpg = rows.find(_._1 == "image/jpeg").get
    assert(passJpg._2.sameElements(jpg) && passJpg._3 == null)
    val bad = rows.find(_._3 != null).get
    assert(bad._3.contains("png optimization"))
  }

  test("format converter rewrites content type; failures go to error column") {
    val s = spark
    import s.implicits._
    val png = ImageCodec.encode(ImageCodec.quadrantImage(8, 5L), "png")
    val df = Seq(
      (png, "image/png", null: String),
      ("garbage".getBytes, "image/png", null: String))
      .toDF("data", "content_type", "error")
    val out = Filters.formatConverter("image/jpeg")(df).collect()
    val ok = out.find(_.getAs[String]("error") == null).get
    assert(ok.getAs[String]("content_type") == "image/jpeg")
    assert(ImageCodec.sniffContentType(ok.getAs[Array[Byte]]("data")).contains("image/jpeg"))
    val bad = out.find(_.getAs[String]("error") != null).get
    assert(bad.getAs[String]("error").contains("conversion"))
  }

  test("image filter convolves and re-encodes in-place (ref filter/image.py:83-106)") {
    import spark.implicits._
    val png = ImageCodec.encode(ImageCodec.gradientImage(16, 42L), "png")
    val df = Seq(
      (png, "image/png", null: String),
      ("garbage".getBytes, "image/png", null: String),
      (null: Array[Byte], null: String, "upstream".asInstanceOf[String]))
      .toDF("data", "content_type", "error")
    val out = Filters.imageFilter("smooth")(df).collect()
    val ok = out.find(r =>
      r.getAs[String]("error") == null && r.getAs[Array[Byte]]("data") != null).get
    // still PNG, same dimensions, but smoothed pixels differ from input
    assert(ImageCodec.sniffContentType(ok.getAs[Array[Byte]]("data")).contains("image/png"))
    val img = ImageCodec.decode(ok.getAs[Array[Byte]]("data"))
    assert(img.getWidth == 16 && img.getHeight == 16)
    assert(!ok.getAs[Array[Byte]]("data").sameElements(png))
    // smoothing barely perturbs a smooth gradient: PSNR stays high
    assert(ImageCodec.psnr(ImageCodec.decode(png), img) >= 30.0)
    // determinism: same input -> same bytes
    val again = Filters.imageFilter("smooth")(df).collect()
      .find(r => r.getAs[String]("error") == null && r.getAs[Array[Byte]]("data") != null).get
    assert(again.getAs[Array[Byte]]("data").sameElements(ok.getAs[Array[Byte]]("data")))
    // decode failure -> error column; upstream error untouched
    assert(out.exists(r =>
      r.getAs[String]("error") != null && r.getAs[String]("error").contains("filter")))
    assert(out.exists(r => r.getAs[String]("error") == "upstream"))
    intercept[IllegalArgumentException](Filters.imageFilter("nope")(df))
  }

  test("corpus is deterministic, schema-exact, and jpeg slice meets PSNR") {
    val a = Corpus.generate(spark, 50).collect().sortBy(_.image_id)
    val b = Corpus.generate(spark, 50, numPartitions = 7).collect().sortBy(_.image_id)
    assert(a.length == 50)
    a.zip(b).foreach { case (x, y) =>
      assert(x.image_id == y.image_id && x.caption == y.caption && x.phash == y.phash)
      assert(x.bytes.sameElements(y.bytes))
    }
    assert(a.map(_.fmt).toSet == Set("png", "jpeg"))
    // decoded jpeg vs the lossless source image
    val j = a.filter(_.fmt == "jpeg").head
    val i = j.image_id.stripPrefix("img").toLong
    val srcImg = ImageCodec.gradientImage(64, Corpus.splitmix64(i))
    assert(ImageCodec.psnr(srcImg, ImageCodec.decode(j.bytes)) >= 40.0)
  }
}
