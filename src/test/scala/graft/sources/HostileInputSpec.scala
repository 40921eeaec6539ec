package graft.sources

import java.awt.image.BufferedImage
import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.image.ImageCodec
import graft.multimodal.Multimodal

/** Hostile input as a property: seeded mutations of valid archives,
  * videos and images (byte flips, truncation, 32-bit fields set to
  * 0x7fffffff / 0xffffffff / 0, and page pointers aimed at their own
  * page) fed to the from-scratch codecs. Every call ends within a time
  * bound and throws nothing but an `Exception`; the error-as-data
  * extractors finish and give a hostile row an `error` or drop it; the
  * unmutated inputs still round-trip. The sampler is seeded (the
  * PropertySpec style), so every run sees the same cases. */
class HostileInputSpec extends SparkTestBase {
  import HostileInputSpec._

  private val Cases = 120

  /** One valid input: its bytes, its byte order, the codec calls a
    * hostile copy must survive, and its page-pointer fields as
    * (absolute offset, number of the page holding the field). */
  private case class Input(
      name: String,
      bytes: Array[Byte],
      bigEndian: Boolean,
      read: Array[Byte] => Any,
      pointers: Seq[(Int, Long)] = Nil)

  private val tiles = (0 until 300).map { i =>
    (6, (i % 20).toLong, (i / 20).toLong, Array.fill(40 + i % 7)(i.toByte))
  }

  private val pairs = (0 until 120).map { i =>
    (f"k$i%04d".getBytes("US-ASCII"), Array.fill(if (i % 25 == 0) 3000 else 60)(i.toByte))
  }

  private val image = {
    val img = new BufferedImage(16, 12, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 16; y <- 0 until 12) img.setRGB(x, y, (x * 16) << 16 | (y * 20) << 8 | 0x40)
    img
  }
  private val jpeg = ImageCodec.encodeJpeg(image, 0.9f)
  private val gps = Some(("N", Seq((48L, 1L), (51L, 1L), (2400L, 100L)), "W", Seq((2L, 1L), (21L, 1L), (0L, 1L))))
  private def exifJpeg(littleEndian: Boolean): Array[Byte] = Multimodal.spliceExif(jpeg,
    Multimodal.synthExifJpeg(6, "Graft Camera", "2024:05:06 07:08:09", littleEndian, gps))

  private def mbtiles: Array[Byte] = {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft-hostile").resolve("t.mbtiles")
    MBTiles.write(tiles.toDF("z", "x", "y", "data"), path.toString, Map("name" -> "hostile"))
    Files.readAllBytes(path)
  }

  /** Interior pages' right child and first cell's child; an overflow
    * page's next-page pointer. SQLite pages are numbered from 1. */
  private def sqlitePointers(b: Array[Byte]): Seq[(Int, Long)] =
    (0 until b.length / Sqlite.PageSize).flatMap { k =>
      val start = k * Sqlite.PageSize
      val hdr = start + (if (k == 0) 100 else 0)
      b(hdr) match {
        case 2 | 5 => Seq(hdr + 8 -> (k + 1L), start + u16(b, hdr + 12, true) -> (k + 1L))
        case 10 | 13 => Nil
        case _ => Seq(start -> (k + 1L))
      }
    }

  /** Every page's prev and next pointers; an internal page's first
    * child. Page 0 is the meta page. */
  private def bdbPointers(b: Array[Byte]): Seq[(Int, Long)] =
    (1 until b.length / Bsddb.PageSize).flatMap { k =>
      val start = k * Bsddb.PageSize
      Seq(start + 12 -> k.toLong, start + 16 -> k.toLong) ++
        (if (b(start + 25) == Bsddb.PBtreeInternal)
           Seq(start + u16(b, start + Bsddb.HeaderSize, false) + 4 -> k.toLong)
         else Nil)
    }

  private def drain(it: Iterator[_]): Int = it.foldLeft(0)((n, _) => n + 1)

  private def readMp4(b: Array[Byte]): Any = {
    val info = Multimodal.parseMp4(b)
    info.sampleOffsets.zip(info.frameSizes).foreach { case (off, len) =>
      require(off >= 0 && len >= 0 && off + len <= b.length, "frame outside the file")
    }
  }

  private def readImage(b: Array[Byte]): Any = (ImageCodec.dimsOf(b), Multimodal.parseExif(b))

  private lazy val inputs: Seq[Input] = {
    val gpkg = GeoPackage.encode(tiles.iterator.map { case (z, x, y, d) => (z.toLong, x, y, d) }, "tiles", 6, 6)
    val mbt = mbtiles
    val bdb = Bsddb.encode(pairs)
    Seq(
      Input("gpkg", gpkg, true, b => drain(GeoPackage.decode(b)), sqlitePointers(gpkg)),
      Input("mbtiles", mbt, true,
        b => (drain(new Sqlite.Database(b).rows("tiles")), MBTiles.readMetadata(b)), sqlitePointers(mbt)),
      Input("bdb", bdb, false, b => drain(Bsddb.decode(b)), bdbPointers(bdb)),
      Input("mp4-stco", Multimodal.synthMp4(12, nChunks = 3, chunkGap = 5), true, readMp4),
      Input("mp4-co64", Multimodal.synthMp4(12, mvhdVersion = 1, co64 = true, nChunks = 2), true, readMp4),
      Input("exif-II", exifJpeg(littleEndian = true), false, readImage),
      Input("exif-MM", exifJpeg(littleEndian = false), true, readImage),
      Input("jpeg", jpeg, true, readImage),
      Input("png", ImageCodec.encode(image, "png"), true, readImage))
  }

  private def mutations(in: Input): Gen[(String, Array[Byte])] = {
    val n = in.bytes.length
    def edit(f: Array[Byte] => Unit): Array[Byte] = { val b = in.bytes.clone(); f(b); b }
    def put32(b: Array[Byte], at: Int, v: Long): Unit = putU32(b, at, v, in.bigEndian)
    val flip = for {
      k <- Gen.choose(1, 8)
      at <- Gen.listOfN(k, Gen.choose(0, n - 1))
      x <- Gen.choose(1, 255)
    } yield s"flip ${at.mkString(",")} ^ $x" -> edit(b => at.foreach(i => b(i) = (b(i) ^ x).toByte))
    val cut = Gen.choose(0, n - 1).map(k => s"cut to $k" -> in.bytes.take(k))
    val field = for {
      at <- Gen.choose(0, n - 4)
      v <- Gen.oneOf(0x7fffffffL, 0xffffffffL, 0L)
    } yield f"field at $at = 0x$v%x" -> edit(put32(_, at, v))
    val selfPointer = in.pointers.headOption.map(_ => Gen.oneOf(in.pointers).map { case (at, page) =>
      s"pointer at $at aimed at its own page $page" -> edit(put32(_, at, page))
    })
    Gen.frequency(Seq(3 -> flip, 1 -> cut, 3 -> field) ++ selfPointer.map(3 -> _): _*)
  }

  /** `Cases` mutants of every input, the same on every run. */
  private lazy val mutants: Map[String, Seq[(String, Array[Byte])]] =
    inputs.map(in => in.name -> sample(mutations(in), Cases)).toMap

  /** Whether `body` threw; fails the test when it runs past the bound
    * or throws anything but an `Exception`. */
  private def threw(what: String)(body: => Any): Boolean = within(BoundSeconds)(body) match {
    case None => fail(s"$what: still running after $BoundSeconds s")
    case Some(Failure(_: Exception)) => true
    case Some(Failure(e)) => fail(s"$what: threw $e, not an Exception")
    case Some(Success(_)) => false
  }

  test("unmutated inputs round-trip") {
    val byName = inputs.map(in => in.name -> in.bytes).toMap
    def same(got: Seq[(Any, Array[Byte])], want: Seq[(Any, Array[Byte])]): Unit = {
      assert(got.map(_._1) == want.map(_._1))
      assert(got.zip(want).forall { case (g, w) => g._2.sameElements(w._2) })
    }
    same(GeoPackage.decode(byName("gpkg")).map(t => ((t._1, t._2, t._3), t._4)).toSeq,
      tiles.map(t => ((t._1, t._2, t._3), t._4)))
    assert(new Sqlite.Database(byName("mbtiles")).rows("tiles").size == tiles.size)
    assert(MBTiles.readMetadata(byName("mbtiles")).get("name").contains("hostile"))
    same(Bsddb.decode(byName("bdb")).map(kv => (new String(kv._1), kv._2)).toSeq,
      pairs.map(kv => (new String(kv._1), kv._2)))
    for (name <- Seq("mp4-stco", "mp4-co64")) {
      val b = byName(name)
      val info = Multimodal.parseMp4(b)
      val frames = info.sampleOffsets.zip(info.frameSizes).flatMap { case (o, l) => b.slice(o.toInt, (o + l).toInt) }
      assert(frames.sameElements(Array.tabulate(12 * 64)(i => (i % 251).toByte)), name)
    }
    for (name <- Seq("exif-II", "exif-MM")) {
      val e = Multimodal.parseExif(byName(name))
      assert((e.orientation, e.model, e.takenAt) == ((Some(6), Some("Graft Camera"), Some("2024:05:06 07:08:09"))), name)
      assert(e.lat.exists(v => math.abs(v - (48 + 51 / 60.0 + 24 / 3600.0)) < 1e-9), name)
      assert(e.lon.exists(v => math.abs(v + (2 + 21 / 60.0)) < 1e-9), name)
    }
    for (name <- Seq("exif-II", "exif-MM", "jpeg", "png"))
      assert(ImageCodec.dimsOf(byName(name)).contains((16, 12)), name)
  }

  test("every codec call on a hostile input ends in time and throws nothing but an Exception") {
    for (in <- inputs; (what, b) <- mutants(in.name))
      threw(s"${in.name}, $what")(in.read(b))
  }

  test("the error-as-data extractors give a hostile input an error or drop it") {
    val s = spark
    import s.implicits._
    val media = Seq(
      "mp4" -> Seq[(DataFrame => DataFrame, Array[Byte] => Any)](
        (Multimodal.videoMeta, Multimodal.parseMp4),
        (Multimodal.mp4FrameSample(_, 1), null),
        (Multimodal.mp4FrameBytes(_, 1), null)),
      "exif" -> Seq[(DataFrame => DataFrame, Array[Byte] => Any)](
        (Multimodal.exifMeta, Multimodal.parseExif),
        (Multimodal.orientNormalize, null)),
      "jpeg" -> Seq[(DataFrame => DataFrame, Array[Byte] => Any)](
        (Multimodal.exifMeta, Multimodal.parseExif)),
      "png" -> Seq[(DataFrame => DataFrame, Array[Byte] => Any)](
        (Multimodal.exifMeta, Multimodal.parseExif)))
    for ((prefix, extractors) <- media) {
      val cases = inputs.filter(_.name.startsWith(prefix)).flatMap { in =>
        mutants(in.name).zipWithIndex.map { case ((what, b), i) => (s"${in.name} #$i, $what", b) }
      }
      val df = cases.toDF("media_id", "bytes")
      for ((extract, direct) <- extractors) {
        val rows = extract(df).select("media_id", "error").collect()
          .groupBy(_.getString(0)).map { case (id, rs) => id -> rs.map(r => Option(r.getString(1))) }
        for ((id, b) <- cases) {
          val errors = rows.getOrElse(id, Array.empty[Option[String]])
          // one error row, or rows without one, or no row at all
          assert(errors.forall(_.isEmpty) || (errors.length == 1 && errors.head.isDefined), id)
          // where the extractor runs one parser, it errs exactly when that parser throws
          if (direct != null) assert(errors.exists(_.isDefined) == threw(id)(direct(b)), id)
        }
      }
    }
  }
}

object HostileInputSpec {

  /** How long one codec call on a few-KB input may run. */
  val BoundSeconds = 10

  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "hostile-input")
    t.setDaemon(true)
    t
  }

  /** `body`'s outcome, any throwable included, or None when it is still
    * running after `seconds`. A call that never ends is left on its
    * daemon thread, so it fails a test instead of hanging the suite. */
  def within[A](seconds: Int)(body: => A): Option[Try[A]] = {
    val f = pool.submit(new Callable[Try[A]] {
      def call(): Try[A] = try Success(body) catch { case t: Throwable => Failure(t) }
    })
    try Some(f.get(seconds.toLong, TimeUnit.SECONDS))
    catch { case _: TimeoutException => f.cancel(true); None }
  }

  def u16(b: Array[Byte], at: Int, bigEndian: Boolean): Int =
    if (bigEndian) (b(at) & 0xff) << 8 | b(at + 1) & 0xff else (b(at + 1) & 0xff) << 8 | b(at) & 0xff

  def putU32(b: Array[Byte], at: Int, v: Long, bigEndian: Boolean): Unit =
    (0 until 4).foreach(i => b(at + i) = (v >>> (8 * (if (bigEndian) 3 - i else i))).toByte)

  /** `n` draws of `g` from a fixed seed. */
  def sample[A](g: Gen[A], n: Int): Seq[A] = {
    var seed = Seed(42L)
    val out = Seq.newBuilder[A]
    var got = 0
    var tries = 0
    while (got < n && tries < n * 20) {
      g(Gen.Parameters.default, seed).foreach { a => out += a; got += 1 }
      seed = seed.next
      tries += 1
    }
    require(got == n, s"generator too restrictive: produced $got/$n")
    out.result()
  }
}
