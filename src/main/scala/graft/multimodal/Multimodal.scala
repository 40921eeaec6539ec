package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

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

  private def be32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  private def be64(b: Array[Byte], p: Int): Long =
    (be32(b, p) << 32) | be32(b, p + 4)

  /** Walk top-level or nested boxes, returning (type -> (payloadOffset,
    * payloadLen)) for the FIRST occurrence of each type in the range. */
  private def boxes(b: Array[Byte], from: Long, to: Long): Map[String, (Long, Long)] = {
    val m = Map.newBuilder[String, (Long, Long)]
    val seen = scala.collection.mutable.Set.empty[String]
    var p = from
    while (p + 8 <= to) {
      val size = be32(b, p.toInt)
      val tpe = new String(b, p.toInt + 4, 4, "ISO-8859-1")
      if (size < 8 || p + size > to) return m.result() // corrupt tail
      if (!seen.contains(tpe)) {
        seen += tpe
        m += tpe -> ((p + 8, size - 8))
      }
      p += size
    }
    m.result()
  }

  private val Containers = Set("moov", "trak", "mdia", "minf", "stbl")

  /** Find a box by path (e.g. moov/trak/mdia/minf/stbl/stsz). */
  private def findBox(b: Array[Byte], path: Seq[String]): Option[(Long, Long)] = {
    var range = (0L, b.length.toLong)
    for (name <- path) {
      boxes(b, range._1, range._1 + range._2).get(name) match {
        case Some(r) => range = r
        case None    => return None
      }
    }
    Some(range)
  }

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
    // Every entry-array read below is bounded to ITS BOX's payload
    // length (the second element findBox returns): a corrupt count that
    // stays inside the file would otherwise read the neighboring box's
    // bytes as frame sizes/offsets with no exception — silently wrong
    // byte ranges instead of an error-channel row. Same posture as the
    // hardened JPEG/TIFF walkers.
    def boundedCount(n: Long, headerLen: Long, entryLen: Long,
        payloadLen: Long, what: String): Int = {
      require(n >= 0 && headerLen + entryLen * n <= payloadLen,
        s"$what entry count $n exceeds its box payload ($payloadLen bytes)")
      n.toInt
    }
    val (mvOff, mvLen) = findBox(b, Seq("moov", "mvhd"))
      .getOrElse(throw new IllegalArgumentException("no moov/mvhd box"))
    val version = b(mvOff.toInt) & 0xff
    require(version == 0 || version == 1, s"mvhd version $version unsupported")
    require(mvLen >= (if (version == 0) 20L else 32L), "truncated mvhd box")
    // v0: flags(4) creation(4) modification(4) timescale(4) duration(4)
    // v1: flags(4) creation(8) modification(8) timescale(4) duration(8)
    val (timescale, duration) =
      if (version == 0) (be32(b, mvOff.toInt + 12), be32(b, mvOff.toInt + 16))
      else (be32(b, mvOff.toInt + 20), be64(b, mvOff.toInt + 24))
    val stblPath = Seq("moov", "trak", "mdia", "minf", "stbl")
    val (szOff, szLen) = findBox(b, stblPath :+ "stsz")
      .getOrElse(throw new IllegalArgumentException("no stsz box"))
    require(szLen >= 12L, "truncated stsz box")
    val uniform = be32(b, szOff.toInt + 4)
    val rawCount = be32(b, szOff.toInt + 8)
    val count =
      if (uniform != 0) boundedCount(rawCount, 12L, 0L, szLen, "stsz")
      else boundedCount(rawCount, 12L, 4L, szLen, "stsz")
    val sizes =
      if (uniform != 0) Array.fill(count)(uniform)
      else Array.tabulate(count)(i => be32(b, szOff.toInt + 12 + 4 * i))
    val chunks = findBox(b, stblPath :+ "stco") match {
      case Some((coOff, coLen)) =>
        val n = boundedCount(be32(b, coOff.toInt + 4), 8L, 4L, coLen, "stco")
        Array.tabulate(n)(i => be32(b, coOff.toInt + 8 + 4 * i))
      case None =>
        val (coOff, coLen) = findBox(b, stblPath :+ "co64")
          .getOrElse(throw new IllegalArgumentException("no stco/co64 box"))
        val n = boundedCount(be32(b, coOff.toInt + 4), 8L, 8L, coLen, "co64")
        Array.tabulate(n)(i => be64(b, coOff.toInt + 8 + 8 * i))
    }
    // stsc: (first_chunk 1-based, samples_per_chunk, desc_idx) runs;
    // expand to one entry per chunk. Absent table (or no chunks) =
    // everything in the first chunk.
    val spc: Array[Int] = findBox(b, stblPath :+ "stsc") match {
      case Some((scOff, scLen)) if chunks.nonEmpty =>
        val n = boundedCount(be32(b, scOff.toInt + 4), 8L, 12L, scLen, "stsc")
        val runs = Array.tabulate(n) { i =>
          val p = scOff.toInt + 8 + 12 * i
          (be32(b, p).toInt, be32(b, p + 4).toInt)
        }
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
    def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](8 + payload.length)
      val size = out.length.toLong
      out(0) = ((size >> 24) & 0xff).toByte
      out(1) = ((size >> 16) & 0xff).toByte
      out(2) = ((size >> 8) & 0xff).toByte
      out(3) = (size & 0xff).toByte
      System.arraycopy(tpe.getBytes("ISO-8859-1"), 0, out, 4, 4)
      System.arraycopy(payload, 0, out, 8, payload.length)
      out
    }
    def u32s(vs: Long*): Array[Byte] = {
      val out = new Array[Byte](4 * vs.length)
      vs.zipWithIndex.foreach { case (v, i) =>
        out(4 * i) = ((v >> 24) & 0xff).toByte
        out(4 * i + 1) = ((v >> 16) & 0xff).toByte
        out(4 * i + 2) = ((v >> 8) & 0xff).toByte
        out(4 * i + 3) = (v & 0xff).toByte
      }
      out
    }
    def u64s(vs: Long*): Array[Byte] =
      vs.flatMap(v => u32s((v >>> 32) & 0xffffffffL, v & 0xffffffffL)).toArray
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
      // strict (a Range's map), so a bad frame errors the whole row
      (0 until info.frameSizes.length by everyK).map { f =>
        val off = offsets(f).toInt
        val len = info.frameSizes(f).toInt
        // copyOfRange silently zero-pads past the array end — a
        // truncated container would then hash identically to other
        // truncated files and fabricate near-dup pairs
        require(off >= 0 && len >= 0 && off + len <= bytes.length,
          f"frame $f range [$off,${off + len}) outside ${bytes.length}-byte container")
        Seq(f, java.util.Arrays.copyOfRange(bytes, off, off + len), null)
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
  def parseExif(b: Array[Byte]): ExifInfo = {
    require(b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8,
      "not a JPEG (no SOI)")
    var p = 2
    while (p < b.length && (b(p) & 0xff) == 0xff) {
      // the spec allows any number of 0xFF fill bytes before a marker
      var q = p + 1
      while (q < b.length && (b(q) & 0xff) == 0xff) q += 1
      if (q >= b.length) return ExifInfo.Empty // trailing fill only
      val marker = b(q) & 0xff
      if (marker == 0xd9 || marker == 0xda) return ExifInfo.Empty
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        p = q + 1 // standalone TEM/RSTn markers carry no length field
      } else {
        require(q + 2 < b.length, f"truncated segment header 0x$marker%02x")
        val len = ((b(q + 1) & 0xff) << 8) | (b(q + 2) & 0xff)
        require(len >= 2 && q + 1 + len <= b.length,
          f"truncated segment 0x$marker%02x")
        if (marker == 0xe1 && len >= 8 &&
            b(q + 3) == 'E' && b(q + 4) == 'x' && b(q + 5) == 'i' &&
            b(q + 6) == 'f' && b(q + 7) == 0 && b(q + 8) == 0)
          return parseTiff(b, q + 9, len - 8)
        p = q + 1 + len
      }
    }
    ExifInfo.Empty
  }

  private def parseTiff(
      b: Array[Byte], base: Int,
      tiffLen: Int): ExifInfo = {
    require(tiffLen >= 8, "truncated TIFF header")
    val le = (b(base) & 0xff, b(base + 1) & 0xff) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => throw new IllegalArgumentException("bad TIFF byte order")
    }
    def u16(p: Int): Int =
      if (le) (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (le) (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
      else ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    require(u16(base + 2) == 42, "bad TIFF magic")
    val ifd = base + u32(base + 4).toInt
    // both bounds: a corrupt 32-bit offset can wrap negative after
    // .toInt and would otherwise read JPEG bytes BEFORE the TIFF
    // header as silently-wrong field values
    require(ifd >= base + 8 && ifd + 2 <= base + tiffLen,
      "IFD0 offset out of range")
    val n = u16(ifd)
    require(ifd + 2 + 12 * n + 4 <= base + tiffLen, "truncated IFD0")
    var orientation: Option[Int] = None
    var model: Option[String] = None
    var taken: Option[String] = None
    def ascii(cnt: Int, valuePos: Int): String = {
      // a count >= 2^31 wraps negative after .toInt and must not slip
      // through the <= 4 inline branch
      require(cnt >= 0 && cnt <= tiffLen, s"bad ASCII count $cnt")
      val at = if (cnt <= 4) valuePos else base + u32(valuePos).toInt
      require(at >= base && at + cnt <= base + tiffLen,
        "ASCII value out of range")
      val end = at + cnt
      val stop = if (end > at && b(end - 1) == 0) end - 1 else end
      new String(b, at, stop - at, "US-ASCII")
    }
    var gpsOff: Option[Int] = None
    var i = 0
    while (i < n) {
      val e = ifd + 2 + 12 * i
      val tag = u16(e)
      val typ = u16(e + 2)
      val cnt = u32(e + 4).toInt
      tag match {
        case 0x0112 if typ == 3 && cnt == 1 => orientation = Some(u16(e + 8))
        case 0x0110 if typ == 2 => model = Some(ascii(cnt, e + 8))
        case 0x0132 if typ == 2 => taken = Some(ascii(cnt, e + 8))
        case 0x8825 if typ == 4 && cnt == 1 => gpsOff = Some(u32(e + 8).toInt)
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
      val g = base + off
      require(g >= base + 8 && g + 2 <= base + tiffLen,
        "GPS IFD offset out of range")
      val gn = u16(g)
      require(g + 2 + 12 * gn + 4 <= base + tiffLen, "truncated GPS IFD")
      def rational3(valuePos: Int): Double = {
        val at = base + u32(valuePos).toInt
        require(at >= base && at + 24 <= base + tiffLen,
          "GPS rational out of range")
        // A zero denominator is a structural violation, not a value:
        // x/0.0 would emit Infinity (0/0.0 NaN) into the lat/lon DATA
        // column with error=null, and mercator math downstream turns
        // that NaN into poisoned tile coordinates. Route it to the
        // error channel like every other malformed-TIFF case.
        require(u32(at + 4) != 0L && u32(at + 12) != 0L && u32(at + 20) != 0L,
          "GPS rational zero denominator")
        val dv = u32(at).toDouble / u32(at + 4).toDouble
        val mv = u32(at + 8).toDouble / u32(at + 12).toDouble
        val sv = u32(at + 16).toDouble / u32(at + 20).toDouble
        dv + mv / 60.0 + sv / 3600.0
      }
      var latRef, lonRef = "N"
      var latRaw, lonRaw: Option[Double] = None
      var j = 0
      while (j < gn) {
        val e = g + 2 + 12 * j
        (u16(e), u16(e + 2)) match {
          case (0x0001, 2) => latRef = ascii(u32(e + 4).toInt, e + 8)
          case (0x0002, 5) if u32(e + 4) == 3L => latRaw = Some(rational3(e + 8))
          case (0x0003, 2) => lonRef = ascii(u32(e + 4).toInt, e + 8)
          case (0x0004, 5) if u32(e + 4) == 3L => lonRaw = Some(rational3(e + 8))
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
    def t16(v: Int): Unit =
      if (littleEndian) { t8(v); t8(v >> 8) } else { t8(v >> 8); t8(v) }
    def t32(v: Long): Unit =
      if (littleEndian) { t8(v.toInt); t8((v >> 8).toInt); t8((v >> 16).toInt); t8((v >> 24).toInt) }
      else { t8((v >> 24).toInt); t8((v >> 16).toInt); t8((v >> 8).toInt); t8(v.toInt) }
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
    require(
      carrier.length >= 2 && (carrier(0) & 0xff) == 0xff &&
        (carrier(1) & 0xff) == 0xd8, "carrier is not a JPEG")
    val app1Len = 2 + (((exifJpeg(4) & 0xff) << 8) | (exifJpeg(5) & 0xff))
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
