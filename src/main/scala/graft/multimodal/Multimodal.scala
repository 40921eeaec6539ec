package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.core.ByteSlice
import graft.image.ImageCodec
import graft.sql.RowOp

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, each extractor one row operator (the
  * Scala analogue of `mapInPandas` UDFs). The image path is REAL
  * (javax.imageio decode/resize), audio metadata is REAL
  * (javax.sound WAV/AIFF/AU header parsing), and video metadata +
  * frame byte ranges are REAL (a from-scratch parse of the public ISO
  * BMFF / MP4 box structure — mvhd v0/v1, stsz, stco/co64, stsc).
  * Only pixel/sample DECODE of audio-compressed and video streams
  * stays out of scope (no such codec exists in this container);
  * [[frameSampleStub]] remains as the documented fallback shape for
  * containers with no in-JVM parser.
  *
  * Every extractor is one [[graft.sql.RowOp]] over `media`: the output
  * is `media_id` followed by the extractor's schema, and a row the body
  * throws on gets its `error`, or is dropped when the schema has none.
  */
object Multimodal {

  /** `media_id` followed by `schema`'s other fields, from `body` over
    * each row's `reads` columns. */
  private def extract(media: DataFrame, schema: StructType, reads: Seq[String] = Seq("bytes"))(
      body: Row => IterableOnce[Seq[Any]]): DataFrame =
    RowOp(media, reads, schema.fields.toSeq.tail, keep = Some(Seq("media_id")))(body)

  val imageMetaSchema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("w", IntegerType),
    StructField("h", IntegerType),
    StructField("content_type", StringType),
    StructField("error", StringType)))

  /** Real image decode (ImageIO) — dimensions + sniffed content type;
    * failures land in the error column. */
  def imageMeta(media: DataFrame): DataFrame =
    extract(media, imageMetaSchema) { r =>
      val bytes = r.getAs[Array[Byte]](0)
      val img = ImageCodec.decode(bytes)
      Some(Seq(img.getWidth, img.getHeight, ImageCodec.sniffContentType(bytes).orNull, null))
    }

  val imagePhashSchema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("phash", LongType),
    StructField("error", StringType)))

  /** 64-bit DCT perceptual hash per image ([[graft.image.Phash]]):
    * decode → luma 32×32 → DCT → median-threshold 8×8 block. One
    * [[graft.sql.RowOp]] like [[imageMeta]]; pair
    * generation over the output is [[graft.dedup.Dedup.phashPairs]]
    * (hamming-banded join — hashes shuffle, pixels never do). */
  def imagePhash(media: DataFrame): DataFrame = imageHash64(media, "phash")

  /** Any of the perceptual-hash family by name (phash | dhash |
    * ahash — [[graft.image.Phash]]); output column is always `phash`
    * so [[graft.dedup.Dedup.phashPairs]] composes with every algo. */
  def imageHash64(media: DataFrame, algo: String): DataFrame = {
    require(Seq("phash", "dhash", "ahash").contains(algo), algo)
    extract(media, imagePhashSchema) { r =>
      Some(Seq(graft.image.Phash.hashOf(r.getAs[Array[Byte]](0), algo), null))
    }
  }

  val imagePhash256Schema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("sig", ArrayType(LongType)),
    StructField("error", StringType)))

  /** 256-bit wide perceptual hash per image
    * ([[graft.image.Phash.phash256]]: 64×64 luma → DCT → 16×16
    * median-threshold block, 4 longs). The production dedup layout
    * for 10⁹+ image corpora: feed `sig` to
    * [[graft.dedup.Dedup.hammingPairsAuto]] with bits=256, whose
    * 256/(t+1)-bit band keys keep buckets O(1) where 64-bit keys are
    * measured candidate-quadratic (BENCH/DEDUP_SCALE.md). Same
    * error-column shape as [[imagePhash]]. */
  def imagePhash256(media: DataFrame): DataFrame =
    extract(media, imagePhash256Schema) { r =>
      Some(Seq(graft.image.Phash.phash256Of(r.getAs[Array[Byte]](0)), null))
    }

  /** Real image resize (area-preserving scale to `target` max edge);
    * undecodable rows are dropped. */
  def resizeImages(media: DataFrame, target: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType),
      StructField("bytes", BinaryType),
      StructField("w", IntegerType),
      StructField("h", IntegerType)))
    extract(media, schema) { r =>
      val img = ImageCodec.decode(r.getAs[Array[Byte]](0))
      val scale = target.toDouble / math.max(img.getWidth, img.getHeight)
      val (w, h) =
        (math.max(1, (img.getWidth * scale).toInt),
          math.max(1, (img.getHeight * scale).toInt))
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.drawImage(img, 0, 0, w, h, null)
      g.dispose()
      Some(Seq(ImageCodec.encode(out, "png"), w, h))
    }
  }

  val audioMetaSchema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("duration_ms", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("encoding", StringType),
    StructField("error", StringType)))

  /** REAL audio metadata extraction: WAV/AIFF/AU header parsing via
    * `javax.sound.sampled.AudioSystem` (pure JDK, no external codec) —
    * duration from frame count / frame rate, plus rate/channels/
    * encoding. One [[graft.sql.RowOp]] like [[imageMeta]];
    * unparseable bytes land in `error`, never throw. */
  def audioMeta(media: DataFrame): DataFrame =
    extract(media, audioMetaSchema) { r =>
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
      val fmt = aff.getFormat
      val frames = aff.getFrameLength.toLong
      val durMs =
        if (frames >= 0 && fmt.getFrameRate > 0)
          (frames * 1000.0 / fmt.getFrameRate).toLong
        else -1L
      Some(Seq(durMs, fmt.getSampleRate.toInt, fmt.getChannels, fmt.getEncoding.toString, null))
    }

  /** Deterministic mono 16-bit PCM WAV of `durationMs` at `sampleRate`
    * (a pure-JDK synthesizer for tests/benchmarks — sine of `freqHz`). */
  def synthWav(durationMs: Long, sampleRate: Int = 16000, freqHz: Double = 440.0): Array[Byte] = {
    val frames = (sampleRate.toLong * durationMs / 1000L).toInt
    val pcm = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val v = (math.sin(2 * math.Pi * freqHz * i / sampleRate) * 12000).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // ------------------------------------------------------------------ //
  // REAL MP4 container parsing (pure bytes, public ISO BMFF box
  // structure — no codec): duration/timescale from mvhd (v0 and v1),
  // true per-frame byte offsets and sizes from the stbl tables (stsz +
  // stco/co64 + stsc multi-chunk layouts). Only pixel DECODE stays out
  // of scope (no video codec in this container).
  // ------------------------------------------------------------------ //

  /** The payload of the first box of type `name` directly inside `s`.
    * A box whose size field is below its header or runs past `s` ends
    * the walk (a corrupt tail). */
  private def child(s: ByteSlice, name: String): Option[ByteSlice] = {
    var p = 0L
    while (p + 8 <= s.length) {
      val size = s.u32(p)
      if (size < 8 || p + size > s.length) return None
      if (s.string(p + 4, 4, "ISO-8859-1") == name) return Some(s.slice(p + 8, size - 8))
      p += size
    }
    None
  }

  /** Find a box by path (e.g. moov/trak/mdia/minf/stbl/stsz). */
  private def findBox(b: ByteSlice, path: Seq[String]): Option[ByteSlice] =
    path.foldLeft(Option(b))((in, name) => in.flatMap(child(_, name)))

  final case class Mp4Info(
      timescale: Long,
      durationMs: Long,
      frameSizes: Array[Long],
      chunkOffsets: Array[Long],
      samplesPerChunk: Array[Int]) {

    /** Absolute byte offset of every sample: each chunk's samples pack
      * sequentially from the chunk base (stsc run-lengths decide how
      * many samples each chunk holds; a surplus in the final mapping —
      * legal per spec — leaves the tail samples in the last chunk). */
    def sampleOffsets: Array[Long] = {
      val out = new Array[Long](frameSizes.length)
      var chunk = 0
      var inChunk = 0
      var off = if (chunkOffsets.nonEmpty) chunkOffsets(0) else 0L
      var i = 0
      while (i < frameSizes.length) {
        if (chunk < chunkOffsets.length - 1 &&
            inChunk >= samplesPerChunk(chunk)) {
          chunk += 1
          inChunk = 0
          off = chunkOffsets(chunk)
        }
        out(i) = off
        off += frameSizes(i)
        inChunk += 1
        i += 1
      }
      out
    }
  }

  /** Parse the tables a frame sampler needs. Fails (throws) on files
    * without a parseable moov/stbl — callers surface that in the error
    * column. Handles mvhd versions 0 (32-bit times) and 1 (64-bit),
    * 32-bit (stco) and 64-bit (co64) chunk offset tables, and
    * multi-chunk sample layouts via stsc run-length mapping (a missing
    * stsc means the single-chunk layout: every sample in chunk 0). */
  def parseMp4(b: Array[Byte]): Mp4Info = {
    val file = ByteSlice(b)
    // The `count` entries of `width` bytes after a table box's count
    // field at `at`: the slice rejects a count its box cannot hold, so a
    // corrupt count never reads the neighbouring box's bytes as frame
    // sizes or offsets.
    def table(box: ByteSlice, at: Int, width: Int): (ByteSlice, Int) = {
      val n = box.u32(at)
      (box.slice(at + 4, width * n), n.toInt)
    }
    val mvhd = findBox(file, Seq("moov", "mvhd"))
      .getOrElse(throw new IllegalArgumentException("no moov/mvhd box"))
    val version = mvhd.u8(0)
    require(version == 0 || version == 1, s"mvhd version $version unsupported")
    // v0: flags(4) creation(4) modification(4) timescale(4) duration(4)
    // v1: flags(4) creation(8) modification(8) timescale(4) duration(8)
    val (timescale, duration) =
      if (version == 0) (mvhd.u32(12), mvhd.u32(16))
      else (mvhd.u32(20), mvhd.u64(24))
    val stblPath = Seq("moov", "trak", "mdia", "minf", "stbl")
    val stsz = findBox(file, stblPath :+ "stsz")
      .getOrElse(throw new IllegalArgumentException("no stsz box"))
    val uniform = stsz.u32(4)
    val sizes =
      if (uniform != 0) {
        // no table to bound the count: the samples must fit in the file
        val count = stsz.u32(8)
        require(count <= b.length / uniform,
          s"stsz: $count samples of $uniform bytes exceed the file (${b.length} bytes)")
        Array.fill(count.toInt)(uniform)
      } else {
        val (t, n) = table(stsz, 8, 4)
        Array.tabulate(n)(i => t.u32(4L * i))
      }
    val chunks = findBox(file, stblPath :+ "stco") match {
      case Some(co) =>
        val (t, n) = table(co, 4, 4)
        Array.tabulate(n)(i => t.u32(4L * i))
      case None =>
        val co = findBox(file, stblPath :+ "co64")
          .getOrElse(throw new IllegalArgumentException("no stco/co64 box"))
        val (t, n) = table(co, 4, 8)
        Array.tabulate(n)(i => t.u64(8L * i))
    }
    // stsc: (first_chunk 1-based, samples_per_chunk, desc_idx) runs;
    // expand to one entry per chunk. Absent table (or no chunks) =
    // everything in the first chunk.
    val spc: Array[Int] = findBox(file, stblPath :+ "stsc") match {
      case Some(sc) if chunks.nonEmpty =>
        val (t, n) = table(sc, 4, 12)
        val runs = Array.tabulate(n)(i => (t.u32(12L * i).toInt, t.u32(12L * i + 4).toInt))
        val out = new Array[Int](chunks.length)
        var r = 0
        var c = 1
        while (c <= chunks.length) {
          if (r + 1 < runs.length && c >= runs(r + 1)._1) r += 1
          out(c - 1) = if (runs.nonEmpty) runs(r)._2 else sizes.length
          c += 1
        }
        out
      case _ =>
        if (chunks.isEmpty) Array.empty[Int]
        else Array.tabulate(chunks.length)(i => if (i == 0) sizes.length else 0)
    }
    val durMs = if (timescale > 0) duration * 1000L / timescale else -1L
    Mp4Info(timescale, durMs, sizes, chunks, spc)
  }

  val videoMetaSchema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("duration_ms", LongType),
    StructField("timescale", LongType),
    StructField("frame_count", IntegerType),
    StructField("error", StringType)))

  /** REAL video (MP4) metadata: duration/timescale/frame count from
    * the container tables; no codec involved. */
  def videoMeta(media: DataFrame): DataFrame =
    extract(media, videoMetaSchema) { r =>
      val info = parseMp4(r.getAs[Array[Byte]](0))
      Some(Seq(info.durationMs, info.timescale, info.frameSizes.length, null))
    }

  /** REAL MP4 frame sampling: every k-th frame's TRUE byte range from
    * stsz + stco/co64 + stsc (samples pack sequentially within each
    * chunk; the stsc run-length table maps samples to chunks). The
    * returned (offset, length) slices address the raw sample bytes —
    * the decode step (absent codec) is the only remaining stub in the
    * pipeline. */
  def mp4FrameSample(media: DataFrame, everyK: Int = 30): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType),
      StructField("frame_idx", IntegerType),
      StructField("offset", LongType),
      StructField("length", IntegerType),
      StructField("error", StringType)))
    extract(media, schema) { r =>
      val info = parseMp4(r.getAs[Array[Byte]](0))
      val offsets = info.sampleOffsets
      (0 until info.frameSizes.length by everyK).map { f =>
        Seq(f, offsets(f), info.frameSizes(f).toInt, null)
      }
    }
  }

  /** Deterministic minimal valid MP4 (ftyp + mdat + moov with
    * mvhd/trak/mdia/minf/stbl tables) for tests — frame payloads are
    * seeded byte runs. Variants cover the real-world container
    * dialects the parser must handle: `mvhdVersion = 1` emits 64-bit
    * times, `co64 = true` emits 64-bit chunk offsets, and `nChunks > 1`
    * splits the samples across chunks with an stsc run-length map
    * (runs are compressed exactly as the spec requires).
    * `framePayloads` overrides the seeded runs with explicit per-frame
    * bytes (each exactly `frameSize`) — the fixture hook for planting
    * shared frames across videos (q81 near-dup). */
  def synthMp4(
      frames: Int,
      frameSize: Int = 64,
      timescale: Long = 600L,
      frameDur: Long = 20L,
      mvhdVersion: Int = 0,
      co64: Boolean = false,
      nChunks: Int = 1,
      chunkGap: Int = 0,
      framePayloads: Seq[Array[Byte]] = Nil): Array[Byte] = {
    require(mvhdVersion == 0 || mvhdVersion == 1, s"mvhd v$mvhdVersion")
    require(nChunks >= 1 && nChunks <= math.max(frames, 1), s"nChunks $nChunks")
    require(
      framePayloads.isEmpty ||
        (framePayloads.length == frames &&
          framePayloads.forall(_.length == frameSize)),
      s"framePayloads must be $frames × $frameSize bytes")
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      ByteSlice.pack(4)(8L + payload.length) ++ tpe.getBytes("ISO-8859-1") ++ payload
    def u32s(vs: Long*): Array[Byte] = ByteSlice.pack(4)(vs: _*)
    def u64s(vs: Long*): Array[Byte] = ByteSlice.pack(8)(vs: _*)
    val ftyp = box("ftyp", "isomiso2".getBytes("ISO-8859-1"))
    // frame f's payload is the deterministic global run sliced at
    // [f*frameSize, (f+1)*frameSize); chunks pack those slices
    // back-to-back with `chunkGap` filler bytes BETWEEN chunks (a
    // non-zero gap makes chunk bases disagree with naive cumulative
    // sizes — exactly what exercises the stsc/stco mapping)
    val allFrames =
      if (framePayloads.nonEmpty) framePayloads.flatten.toArray
      else Array.tabulate(frames * frameSize)(i => (i % 251).toByte)
    val spc = Array.tabulate(nChunks)(i =>
      frames / nChunks + (if (i < frames % nChunks) 1 else 0))
    val mdatPayloadOffset = ftyp.length + 8L
    val payload = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val chunkOffsets = new Array[Long](nChunks)
    var frame = 0
    spc.zipWithIndex.foreach { case (s, ci) =>
      if (ci > 0 && chunkGap > 0)
        payload ++= Array.fill(chunkGap)(0xee.toByte)
      chunkOffsets(ci) = mdatPayloadOffset + payload.length
      payload ++= allFrames.slice(frame * frameSize, (frame + s) * frameSize)
      frame += s
    }
    val mdat = box("mdat", payload.toArray)
    val duration = frames * frameDur
    val mvhd =
      if (mvhdVersion == 0) box("mvhd", u32s(0L, 0L, 0L, timescale, duration))
      else
        box("mvhd",
          u32s(1L << 24) ++ u64s(0L, 0L) ++ u32s(timescale) ++ u64s(duration))
    val stsz = box("stsz", u32s((0L +: 0L +: frames.toLong +:
      Array.fill(frames)(frameSize.toLong).toSeq): _*))
    val chunkBox =
      if (co64) box("co64", u32s(0L, nChunks.toLong) ++ u64s(chunkOffsets.toSeq: _*))
      else box("stco", u32s((0L +: nChunks.toLong +: chunkOffsets.toSeq): _*))
    val stscRuns = spc.zipWithIndex
      .foldLeft(Vector.empty[(Long, Long)]) { case (acc, (s, i)) =>
        if (acc.nonEmpty && acc.last._2 == s.toLong) acc
        else acc :+ ((i + 1L, s.toLong))
      }
    val stsc = box("stsc", u32s((0L +: stscRuns.length.toLong +:
      stscRuns.flatMap { case (first, s) => Seq(first, s, 1L) }): _*))
    val stts = box("stts", u32s(0L, 1L, frames.toLong, frameDur))
    val stbl = box("stbl", stsz ++ chunkBox ++ stsc ++ stts)
    val minf = box("minf", stbl)
    val mdia = box("mdia", minf)
    val trak = box("trak", mdia)
    val moov = box("moov", mvhd ++ trak)
    ftyp ++ mdat ++ moov
  }

  val mp4FrameBytesSchema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("frame_idx", IntegerType),
    StructField("frame_bytes", BinaryType),
    StructField("error", StringType)))

  /** Every k-th frame's PAYLOAD sliced out of the container —
    * [[mp4FrameSample]]'s byte-materializing sibling for pipelines that
    * hash or decode frames rather than plan reads. The container bytes
    * are already in hand, so the slice is free; hash the frame in the
    * projection directly above this (e.g. `md5(frame_bytes)`) so the
    * downstream shuffle carries 16-byte digests and frame payloads
    * never leave the partition. */
  def mp4FrameBytes(media: DataFrame, everyK: Int = 30): DataFrame =
    extract(media, mp4FrameBytesSchema) { r =>
      val bytes = r.getAs[Array[Byte]](0)
      val info = parseMp4(bytes)
      val offsets = info.sampleOffsets
      val file = ByteSlice(bytes)
      // strict (a Range's map), so a bad frame errors the whole row: a
      // range outside the container throws rather than reading short,
      // so truncated files cannot hash alike and fabricate near-dup pairs
      (0 until info.frameSizes.length by everyK).map { f =>
        Seq(f, file.bytes(offsets(f), info.frameSizes(f)), null)
      }
    }

  /** STUB video frame sampling for non-MP4 containers — emits every
    * k-th "frame" as a deterministic 8-byte slice reference (offset,
    * length) without parsing. MP4 inputs should use the REAL
    * [[mp4FrameSample]]; this remains only as the documented fallback
    * shape for formats with no in-JVM parser. */
  def frameSampleStub(media: DataFrame, everyK: Int = 30): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", StringType),
      StructField("frame_idx", IntegerType),
      StructField("offset", LongType),
      StructField("length", IntegerType)))
    extract(media, schema) { r =>
      val bytes = r.getAs[Array[Byte]](0)
      val n = if (bytes == null) 0 else bytes.length / 64
      (0 until n by everyK).map(f => Seq[Any](f, f.toLong * 64L, 64)) // no widening to Long
    }
  }

  // ------------------------------------------------------------------ //
  // REAL EXIF parsing (pure bytes, the public JPEG APP1 / TIFF layout
  // — no library): orientation, camera model, and capture timestamp
  // from IFD0, both byte orders, inline and offset-addressed values.
  // The signals an image-corpus pipeline joins on: orientation feeds
  // the resize/normalize stage, the timestamp feeds burst-photo
  // near-dup grouping next to pHash.
  // ------------------------------------------------------------------ //

  /** Parsed EXIF signals. `lat`/`lon` are decimal degrees from the GPS
    * sub-IFD (deg + min/60 + sec/3600, sign from the N/S/E/W refs) —
    * the field that joins a photo corpus to the tile grid. */
  case class ExifInfo(
      orientation: Option[Int],
      model: Option[String],
      takenAt: Option[String],
      lat: Option[Double],
      lon: Option[Double])
  object ExifInfo {
    val Empty: ExifInfo = ExifInfo(None, None, None, None, None)
  }

  val exifMetaSchema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("orientation", IntegerType),
    StructField("model", StringType),
    StructField("taken_at", StringType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("error", StringType)))

  /** EXIF fields from a JPEG's APP1 segment, one [[graft.sql.RowOp]]
    * like the other parsers. Missing tags are nulls (a JPEG without EXIF
    * is DATA, not an error); structural violations — not a JPEG,
    * truncated TIFF, bad magic — land in the error column. */
  def exifMeta(media: DataFrame): DataFrame =
    extract(media, exifMetaSchema) { r =>
      val e = parseExif(r.getAs[Array[Byte]](0))
      Some(Seq(e.orientation.map(Int.box).orNull, e.model.orNull, e.takenAt.orNull,
        e.lat.map(Double.box).orNull, e.lon.map(Double.box).orNull, null))
    }

  /** Orientation, model, dateTime, and GPS position from the first
    * APP1 Exif segment; all-None when the JPEG simply has no EXIF.
    * Throws on structural violations. */
  def parseExif(b: Array[Byte]): ExifInfo =
    ImageCodec.jpegSegments(ByteSlice(b)) { (marker, seg) =>
      if (marker == 0xe1 && seg.length >= 6 && seg.string(0, 6, "ISO-8859-1") == "Exif\u0000\u0000")
        Some(parseTiff(seg.slice(6, seg.length - 6)))
      else None
    }.getOrElse(ExifInfo.Empty)

  /** IFD0 (and its GPS sub-IFD) of the TIFF structure `tiff`, read in
    * the byte order its `II`/`MM` header names. Offsets inside the TIFF
    * are relative to its header, so every value read is bounded by the
    * structure itself. */
  private def parseTiff(tiff: ByteSlice): ExifInfo = {
    val t = (tiff.u8(0), tiff.u8(1)) match {
      case ('I', 'I') => tiff.withOrder(bigEndian = false)
      case ('M', 'M') => tiff
      case _ => throw new IllegalArgumentException("bad TIFF byte order")
    }
    require(t.u16(2) == 42, "bad TIFF magic")
    /** The `n` 12-byte entries of the IFD at `off`, which may not
      * overlap the 8-byte header. */
    def ifd(off: Long, what: String): (ByteSlice, Int) = {
      require(off >= 8, s"$what offset out of range")
      val n = t.u16(off)
      (t.slice(off + 2, 12L * n + 4), n)
    }
    val (entries, n) = ifd(t.u32(4), "IFD0")
    var orientation: Option[Int] = None
    var model: Option[String] = None
    var taken: Option[String] = None
    /** The ASCII value of entry `e`: inline in its 4-byte value slot
      * when it fits, else at the offset the slot holds; one trailing
      * NUL is dropped. */
    def ascii(e: ByteSlice): String = {
      val cnt = e.u32(4)
      val v = if (cnt <= 4) e.slice(8, cnt) else t.slice(e.u32(8), cnt)
      v.string(0, if (cnt > 0 && v.u8(cnt - 1) == 0) cnt - 1 else cnt, "US-ASCII")
    }
    var gpsOff: Option[Long] = None
    var i = 0
    while (i < n) {
      val e = entries.slice(12L * i, 12)
      val typ = e.u16(2)
      val cnt = e.u32(4)
      e.u16(0) match {
        case 0x0112 if typ == 3 && cnt == 1 => orientation = Some(e.u16(8))
        case 0x0110 if typ == 2 => model = Some(ascii(e))
        case 0x0132 if typ == 2 => taken = Some(ascii(e))
        case 0x8825 if typ == 4 && cnt == 1 => gpsOff = Some(e.u32(8))
        case _ => ()
      }
      i += 1
    }
    // GPS sub-IFD (tag 0x8825 pointer): GPSLatitudeRef/GPSLatitude/
    // GPSLongitudeRef/GPSLongitude. Coordinates are 3 RATIONALs
    // (deg, min, sec; each num/den u32 pairs, always offset-addressed
    // at 24 bytes); decimal = d + m/60 + s/3600, negated for S/W.
    var lat: Option[Double] = None
    var lon: Option[Double] = None
    gpsOff.foreach { off =>
      val (gps, gn) = ifd(off, "GPS IFD")
      def rational3(e: ByteSlice): Double = {
        val r = t.slice(e.u32(8), 24)
        // A zero denominator is a structural violation, not a value:
        // x/0.0 would emit Infinity (0/0.0 NaN) into the lat/lon DATA
        // column with error=null, and mercator math downstream turns
        // that NaN into poisoned tile coordinates. Route it to the
        // error channel like every other malformed-TIFF case.
        require(r.u32(4) != 0L && r.u32(12) != 0L && r.u32(20) != 0L,
          "GPS rational zero denominator")
        val dv = r.u32(0).toDouble / r.u32(4).toDouble
        val mv = r.u32(8).toDouble / r.u32(12).toDouble
        val sv = r.u32(16).toDouble / r.u32(20).toDouble
        dv + mv / 60.0 + sv / 3600.0
      }
      var latRef, lonRef = "N"
      var latRaw, lonRaw: Option[Double] = None
      var j = 0
      while (j < gn) {
        val e = gps.slice(12L * j, 12)
        (e.u16(0), e.u16(2)) match {
          case (0x0001, 2) => latRef = ascii(e)
          case (0x0002, 5) if e.u32(4) == 3L => latRaw = Some(rational3(e))
          case (0x0003, 2) => lonRef = ascii(e)
          case (0x0004, 5) if e.u32(4) == 3L => lonRaw = Some(rational3(e))
          case _ => ()
        }
        j += 1
      }
      lat = latRaw.map(v => if (latRef == "S") -v else v)
      lon = lonRaw.map(v => if (lonRef == "W") -v else v)
    }
    ExifInfo(orientation, model, taken, lat, lon)
  }

  /** Deterministic JPEG carrying exactly the EXIF fields given — SOI +
    * APP1(TIFF IFD0: Model, Orientation, DateTime) + EOI. Either byte
    * order; ASCII values longer than 4 bytes go to the offset-
    * addressed data area, exactly the layout real cameras write. */
  def synthExifJpeg(
      orientation: Int,
      model: String,
      dateTime: String,
      littleEndian: Boolean,
      gps: Option[(String, Seq[(Long, Long)], String, Seq[(Long, Long)])] =
        None): Array[Byte] = {
    gps.foreach { case (_, la, _, lo) =>
      require(la.length == 3 && lo.length == 3, "GPS needs 3 rationals per axis")
    }
    val modelBytes = (model + "\u0000").getBytes("US-ASCII")
    val dateBytes = (dateTime + "\u0000").getBytes("US-ASCII")
    val nE0 = if (gps.isDefined) 4 else 3
    // TIFF header + count + entries + next-IFD
    val dataStart = 8 + 2 + nE0 * 12 + 4
    // offset-addressed blocks pad to even length: TIFF value offsets
    // must be word-aligned
    def extra(n: Int): Int = if (n <= 4) 0 else n + (n % 2)
    val modelExtra = extra(modelBytes.length)
    val dateOff = dataStart + modelExtra
    val gpsIfdOff = dateOff + extra(dateBytes.length)
    val gpsDataOff = gpsIfdOff + 2 + 4 * 12 + 4
    val tiff = new java.io.ByteArrayOutputStream()
    def t8(v: Int): Unit = tiff.write(v & 0xff)
    def t16(v: Int): Unit = tiff.write(ByteSlice.pack(2, !littleEndian)(v.toLong))
    def t32(v: Long): Unit = tiff.write(ByteSlice.pack(4, !littleEndian)(v))
    t8(if (littleEndian) 'I' else 'M'); t8(if (littleEndian) 'I' else 'M')
    t16(42); t32(8L) // IFD0 directly after the header
    t16(nE0) // entry count, tags ascending (the spec's ordering rule)
    // 0x0110 Model, ASCII
    t16(0x0110); t16(2); t32(modelBytes.length.toLong)
    if (modelBytes.length <= 4) { tiff.write(modelBytes); (modelBytes.length until 4).foreach(_ => t8(0)) }
    else t32(dataStart.toLong)
    // 0x0112 Orientation, SHORT
    t16(0x0112); t16(3); t32(1L); t16(orientation); t16(0)
    // 0x0132 DateTime, ASCII (inline when it fits the 4-byte value
    // slot — the same TIFF rule the Model entry follows; a real EXIF
    // DateTime is 20 bytes and goes offset-addressed)
    t16(0x0132); t16(2); t32(dateBytes.length.toLong)
    if (dateBytes.length <= 4) { tiff.write(dateBytes); (dateBytes.length until 4).foreach(_ => t8(0)) }
    else t32(dateOff.toLong)
    // 0x8825 GPS Info IFD pointer, LONG
    gps.foreach { _ => t16(0x8825); t16(4); t32(1L); t32(gpsIfdOff.toLong) }
    t32(0L) // next IFD
    if (modelBytes.length > 4) {
      tiff.write(modelBytes); if (modelBytes.length % 2 == 1) t8(0)
    }
    if (dateBytes.length > 4) {
      tiff.write(dateBytes); if (dateBytes.length % 2 == 1) t8(0)
    }
    // GPS sub-IFD: refs inline, coordinates as 3 offset-addressed
    // RATIONALs per axis — the layout cameras write
    gps.foreach { case (laRef, la, loRef, lo) =>
      t16(4)
      t16(0x0001); t16(2); t32(2L); t8(laRef.charAt(0)); t8(0); t8(0); t8(0)
      t16(0x0002); t16(5); t32(3L); t32(gpsDataOff.toLong)
      t16(0x0003); t16(2); t32(2L); t8(loRef.charAt(0)); t8(0); t8(0); t8(0)
      t16(0x0004); t16(5); t32(3L); t32((gpsDataOff + 24).toLong)
      t32(0L)
      (la ++ lo).foreach { case (num, den) => t32(num); t32(den) }
    }
    val tiffBytes = tiff.toByteArray

    // JPEG wrapper
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    w8(0xff); w8(0xd8) // SOI
    w8(0xff); w8(0xe1) // APP1
    val segLen = 2 + 6 + tiffBytes.length
    require(segLen <= 0xffff,
      s"EXIF payload overflows the 16-bit APP1 segment length ($segLen)")
    w8(segLen >> 8); w8(segLen) // segment length is ALWAYS big-endian
    out.write("Exif".getBytes("US-ASCII")); w8(0); w8(0)
    out.write(tiffBytes)
    w8(0xff); w8(0xd9) // EOI
    out.toByteArray
  }

  /** Splice the APP1 EXIF segment of `exifJpeg` (a [[synthExifJpeg]]
    * payload) into a real JPEG right after its SOI — the layout cameras
    * write: one decodable payload carrying pixels AND metadata. The
    * fixture writer for pipelines that exercise [[exifMeta]] and
    * [[orientNormalize]] end to end. */
  def spliceExif(carrier: Array[Byte], exifJpeg: Array[Byte]): Array[Byte] = {
    require(ImageCodec.sniffContentType(carrier).contains("image/jpeg"), "carrier is not a JPEG")
    val app1Len = 2 + ByteSlice(exifJpeg).u16(4)
    carrier.take(2) ++ exifJpeg.slice(2, 2 + app1Len) ++ carrier.drop(2)
  }

  val orientNormalizeSchema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("bytes", BinaryType),
    StructField("w", IntegerType),
    StructField("h", IntegerType),
    StructField("error", StringType)))

  /** Orientation normalization — the corpus stage between decode and
    * perceptual hashing: rotate/flip each raster upright per its EXIF
    * orientation (1-8) so pHash/dHash see every burst shot the same
    * way. Orientation comes from an `orientation` column when the
    * input has one (the [[exifMeta]] join shape); otherwise it is
    * parsed from the bytes' own APP1 segment in the same pass (one
    * decode, no extra scan). Orientation 1 / null / missing-EXIF
    * passes bytes through UNTOUCHED — dims come from a header peek
    * ([[graft.image.ImageCodec.dimsOf]]), so the dominant upright-photo
    * path never decodes a raster and suffers no JPEG generation loss;
    * 2-8 re-encode in the sniffed format. Pixels stay inside the
    * partition — nothing here shuffles. */
  def orientNormalize(media: DataFrame): DataFrame = {
    val hasOrientation = media.schema.fieldNames.contains("orientation")
    extract(media, orientNormalizeSchema,
        if (hasOrientation) Seq("bytes", "orientation") else Seq("bytes")) { r =>
      val bytes = r.getAs[Array[Byte]](0)
      val o =
        if (hasOrientation) { if (r.isNullAt(1)) 1 else r.getInt(1) }
        else parseExif(bytes).orientation.getOrElse(1)
      if (o == 1) {
        val (w, h) = ImageCodec.dimsOf(bytes).getOrElse {
          val img = ImageCodec.decode(bytes)
          (img.getWidth, img.getHeight)
        }
        Some(Seq(bytes, w, h, null))
      } else {
        val up = ImageCodec.applyOrientation(ImageCodec.decode(bytes), o)
        val fmt = ImageCodec.formatOf(
          ImageCodec.sniffContentType(bytes).getOrElse("image/png"))
        Some(Seq(ImageCodec.encode(up, fmt), up.getWidth, up.getHeight, null))
      }
    }
  }

  val pixelRowsSchema: StructType = StructType(Seq(
    StructField("media_id", StringType),
    StructField("x", IntegerType),
    StructField("y", IntegerType),
    StructField("r", IntegerType),
    StructField("g", IntegerType),
    StructField("b", IntegerType)))

  /** Raster→vector explode: one row per pixel (x, y, r, g, b). The
    * bridge from opaque image bytes to relational column math — pixel
    * oracles (q79), per-channel stats, rasterize round-trips. Row
    * volume is w·h per image, so this belongs after a crop/resize
    * stage, not on raw corpus rasters. */
  def pixelRows(media: DataFrame): DataFrame =
    // undecodable/null payloads (e.g. an upstream error row with
    // bytes = null) contribute zero pixel rows rather than failing the
    // task — the resizeImages skip posture (the schema has no `error`);
    // callers that need the error detail read it off the upstream
    // operator's column
    extract(media, pixelRowsSchema) { r =>
      val img = ImageCodec.decode(r.getAs[Array[Byte]](0))
      val w = img.getWidth
      val px = img.getRGB(0, 0, w, img.getHeight, null, 0, w)
      px.indices.iterator.map { i =>
        val p = px(i)
        Seq(i % w, i / w, (p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
      }
    }
}
