package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Hostile-input behavior of the from-scratch codecs: truncated and
  * garbage archives must raise promptly (store reads fail LOUDLY —
  * the contract argued in MBTiles.read), while the multimodal
  * extractors route the same inputs to their error column without
  * throwing. Nothing may hang or succeed silently with wrong data. */
class RobustnessSpec extends SparkTestBase {

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
}
