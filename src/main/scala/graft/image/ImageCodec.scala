package graft.image

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import scala.util.Try

import graft.core.ByteSlice

/** Deterministic JVM image codecs (javax.imageio): PNG is lossless and
  * used for bit-exact fixtures; JPEG is the lossy path guarded by the
  * PSNR >= 40 dB invariant. All functions are pure and executor-safe
  * (no shared state), so they can run inside UDFs / flatMap.
  */
object ImageCodec {

  // ImageIO defaults to a disk-backed stream cache: every encode/decode
  // creates a temp FILE, which serializes multi-threaded executors on
  // the filesystem (measured: 32-thread encode barely faster than
  // 8-thread). Memory-cached streams remove the contention.
  javax.imageio.ImageIO.setUseCache(false)

  val PngMagic: Array[Byte] =
    Array(0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
  val JpegMagic: Array[Byte] = Array(0xff.toByte, 0xd8.toByte)

  /** Sniff content type from magic bytes
    * (reference filter/contenttype.py:17-27). */
  def sniffContentType(data: Array[Byte]): Option[String] =
    if (data == null || data.isEmpty) None
    else if (data(0) == '{') Some("application/json")
    else if (data.length >= 8 && data.take(8).sameElements(PngMagic))
      Some("image/png")
    else if (data.length >= 2 && data(0) == JpegMagic(0) && data(1) == JpegMagic(1))
      Some("image/jpeg")
    else None

  def formatOf(contentType: String): String = contentType match {
    case "image/png"  => "png"
    case "image/jpeg" => "jpeg"
    case other =>
      throw new IllegalArgumentException(s"unsupported content type: $other")
  }

  /** Largest raster [[decode]] allocates, in pixels (2^26: 8192 x 8192,
    * 256 MB at 4 bytes a pixel). ImageIO allocates the raster a header
    * declares before it reads any pixel data, so a few hundred bytes
    * declaring 26000 x 26000 pixels cost over a second and gigabytes of
    * heap before the read fails; the declared size is checked first. */
  val MaxPixels: Long = 1L << 26

  def decode(data: Array[Byte]): BufferedImage = {
    val in = ImageIO.createImageInputStream(new ByteArrayInputStream(data))
    try {
      val readers = ImageIO.getImageReaders(in)
      require(readers.hasNext, "undecodable image bytes")
      val reader = readers.next()
      try {
        reader.setInput(in, true, true)
        val (w, h) = (reader.getWidth(0).toLong, reader.getHeight(0).toLong)
        require(w * h <= MaxPixels,
          s"image of $w x $h pixels is over the decode cap of $MaxPixels pixels")
        val img = reader.read(0, reader.getDefaultReadParam)
        require(img != null, "undecodable image bytes")
        img
      } finally reader.dispose()
    } finally in.close()
  }

  /** JPEG quality for the lossy path. The PSNR >= 40 dB invariant
    * (BASELINE.md) requires explicit high quality — ImageIO's default
    * 0.75 lands near 30 dB on hard-edged rasters. */
  val JpegQuality: Float = 0.98f

  // per-thread writer cache: ImageIO.write scans the (shared) service
  // registry on every call, which contends across executor threads
  private val writers =
    ThreadLocal.withInitial[java.util.HashMap[String, javax.imageio.ImageWriter]](
      () => new java.util.HashMap[String, javax.imageio.ImageWriter]())

  private def writerFor(format: String): javax.imageio.ImageWriter = {
    val m = writers.get()
    var w = m.get(format)
    if (w == null) {
      w = ImageIO.getImageWritersByFormatName(format).next()
      m.put(format, w)
    }
    w
  }

  /** Encode; JPEG cannot carry alpha, so flatten to RGB first. */
  def encode(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val toWrite =
      if (format == "jpeg" && img.getType != BufferedImage.TYPE_INT_RGB) {
        val r =
          new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
        val g = r.createGraphics()
        g.drawImage(img, 0, 0, null)
        g.dispose()
        r
      } else img
    val writer = writerFor(format)
    val param = writer.getDefaultWriteParam
    if (format == "jpeg") {
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(JpegQuality)
    }
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(toWrite, null, null), param)
    ios.close()
    bos.toByteArray
  }

  /** JPEG encode at an explicit quality (the default [[encode]] path
    * pins [[JpegQuality]]); used by the near-dup corpus to produce
    * perceptually-identical-but-byte-different variants. */
  def encodeJpeg(img: BufferedImage, quality: Float): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val toWrite =
      if (img.getType != BufferedImage.TYPE_INT_RGB) {
        val r =
          new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
        val g = r.createGraphics()
        g.drawImage(img, 0, 0, null)
        g.dispose()
        r
      } else img
    val writer = writerFor("jpeg")
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(toWrite, null, null), param)
    ios.close()
    bos.toByteArray
  }

  /** Lossless PNG size optimization (reference filter/optipng.py shells
    * out to the optipng binary; none here, so this is the pure-JDK
    * equivalent): re-encode at maximum deflate effort and keep the
    * smaller encoding. PNG is lossless, so pixels are bit-identical
    * either way; when re-encoding doesn't shrink, the original bytes
    * pass through untouched (optipng's own contract). */
  def optimizePng(data: Array[Byte]): Array[Byte] = {
    val img = decode(data)
    val bos = new ByteArrayOutputStream()
    val writer = writerFor("png")
    val param = writer.getDefaultWriteParam
    if (param.canWriteCompressed) {
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      // the PNG plugin maps quality 0.0 -> highest deflate effort
      param.setCompressionQuality(0.0f)
    }
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close()
    val out = bos.toByteArray
    if (out.length < data.length) out else data
  }

  /** Re-encode bytes to the target content type if different
    * (reference filter/image.py:17-41, ImageFormatConverter). */
  def convert(data: Array[Byte], fromCt: String, toCt: String): Array[Byte] =
    if (fromCt == toCt) data
    else encode(decode(data), formatOf(toCt))

  /** Crop a sub-rectangle as an independent image (decouples from the
    * parent raster so the parent can be GC'd). */
  def crop(img: BufferedImage, x: Int, y: Int, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, img.getType match {
      case 0 => BufferedImage.TYPE_INT_ARGB
      case t => t
    })
    val g = out.createGraphics()
    // Src composite: copy pixels verbatim (SRC_OVER would blend
    // alpha<255 source pixels into the blank canvas and lose RGB).
    g.setComposite(java.awt.AlphaComposite.Src)
    g.drawImage(img, 0, 0, w, h, x, y, x + w, y + h, null)
    g.dispose()
    out
  }

  /** Alpha-composite paste of `src` onto `dst` at (x, y)
    * (reference filter/image.py:64-70, MergeFilter paste). */
  def paste(dst: BufferedImage, src: BufferedImage, x: Int, y: Int): Unit = {
    val g = dst.createGraphics()
    g.drawImage(src, x, y, null)
    g.dispose()
  }

  /** Image dimensions from the header alone — PNG IHDR or the first
    * JPEG SOF marker — no pixel decode. Lets pass-through paths (e.g.
    * [[graft.multimodal.Multimodal.orientNormalize]]'s orientation-1
    * rows, the dominant case in a real photo corpus) report dims at
    * header-peek cost instead of decoding the raster. The JPEG walk
    * skips APP/COM segments, so EXIF-carrying files resolve too; a
    * header it cannot read is None. */
  def dimsOf(data: Array[Byte]): Option[(Int, Int)] = {
    val s = ByteSlice(data)
    if (data.length >= 24 && s.u8(0) == 0x89 && s.u8(1) == 'P')
      // PNG: IHDR is mandated first; width/height big-endian at 16/20
      Some((s.u32(16).toInt, s.u32(20).toInt))
    else
      Try(jpegSegments(s) { (m, seg) =>
        // SOF0-15 minus the non-frame DHT/JPG/DAC markers: precision,
        // then height and width
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          Some((seg.u16(3), seg.u16(1)))
        else None
      }).toOption.flatten
  }

  /** The one JPEG marker walk, after SOI: skips spec-legal 0xFF fill
    * bytes and the standalone TEM/RSTn markers, and hands `visit` each
    * other marker with its segment's payload (the bytes after the length
    * field) until `visit` returns a result. None when SOS, EOI or the end
    * of the data comes first. Throws when the data does not start with
    * SOI or a segment's length field runs past the data. */
  private[graft] def jpegSegments[A](data: ByteSlice)(visit: (Int, ByteSlice) => Option[A]): Option[A] = {
    require(data.length >= 4 && data.u8(0) == 0xff && data.u8(1) == 0xd8,
      "not a JPEG (no SOI)")
    var p = 2L
    while (p < data.length && data.u8(p) == 0xff) {
      var q = p + 1
      while (q < data.length && data.u8(q) == 0xff) q += 1
      if (q >= data.length) return None // trailing fill only
      val marker = data.u8(q)
      if (marker == 0xd9 || marker == 0xda) return None
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) p = q + 1
      else {
        val len = data.u16(q + 1)
        require(len >= 2 && q + 1 + len <= data.length, f"truncated segment 0x$marker%02x")
        val found = visit(marker, data.slice(q + 3, len - 2))
        if (found.isDefined) return found
        p = q + 1 + len
      }
    }
    None
  }

  /** EXIF orientation 1-8 applied to a STORED raster, producing the
    * upright display image (TIFF/EXIF tag 0x0112 semantics: 2=mirror-H,
    * 3=rot180, 4=mirror-V, 5=transpose, 6=rot90CW, 7=transverse,
    * 8=rot270CW; 5-8 swap dimensions). pHash/dHash are NOT rotation
    * invariant, so an image corpus must normalize orientation before
    * hashing or burst-rotated shots of the same scene never pair.
    *
    * Every orientation's stored-pixel lookup is affine in the output
    * coordinates — sx = ax·x + ay·y + a0, sy = bx·x + by·y + b0 — so
    * the inner loop is a branchless fused index computation over the
    * bulk-read ARGB array (one getRGB/setRGB pair per image, no
    * per-pixel method dispatch). Bijective: composing with
    * [[inverseOrientation]] round-trips pixel-exactly. */
  def applyOrientation(img: BufferedImage, orientation: Int): BufferedImage = {
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation must be 1-8, got $orientation")
    if (orientation == 1) return img
    val w = img.getWidth
    val h = img.getHeight
    // (ax, ay, a0, bx, by, b0) per orientation: stored = (sx, sy)
    val (ax, ay, a0, bx, by, b0) = orientation match {
      case 2 => (-1, 0, w - 1, 0, 1, 0)
      case 3 => (-1, 0, w - 1, 0, -1, h - 1)
      case 4 => (1, 0, 0, 0, -1, h - 1)
      case 5 => (0, 1, 0, 1, 0, 0)
      case 6 => (0, 1, 0, -1, 0, h - 1)
      case 7 => (0, -1, w - 1, -1, 0, h - 1)
      case 8 => (0, -1, w - 1, 1, 0, 0)
    }
    val (uw, uh) = if (orientation >= 5) (h, w) else (w, h)
    val src = img.getRGB(0, 0, w, h, null, 0, w)
    val dst = new Array[Int](uw * uh)
    var y = 0
    while (y < uh) {
      var x = 0
      while (x < uw) {
        dst(y * uw + x) =
          src((bx * x + by * y + b0) * w + (ax * x + ay * y + a0))
        x += 1
      }
      y += 1
    }
    val out = new BufferedImage(uw, uh,
      if (img.getColorModel.hasAlpha) BufferedImage.TYPE_INT_ARGB
      else BufferedImage.TYPE_INT_RGB)
    out.setRGB(0, 0, uw, uh, dst, 0, uw)
    out
  }

  /** The orientation whose [[applyOrientation]] undoes orientation `o`
    * (6 and 8 — the quarter turns — swap; everything else is its own
    * inverse). */
  def inverseOrientation(o: Int): Int = o match {
    case 6 => 8
    case 8 => 6
    case x => x
  }

  /** Exact pixel equality: decode both payloads and compare full ARGB
    * rasters (dimensions must match too). The strict form of [[psnr]]
    * = +inf, format-independent (a JPEG and the PNG re-encode of its
    * decoded pixels compare equal). */
  def pixelsEqual(a: Array[Byte], b: Array[Byte]): Boolean = {
    val ia = decode(a)
    val ib = decode(b)
    ia.getWidth == ib.getWidth && ia.getHeight == ib.getHeight && {
      val pa = ia.getRGB(0, 0, ia.getWidth, ia.getHeight, null, 0, ia.getWidth)
      val pb = ib.getRGB(0, 0, ib.getWidth, ib.getHeight, null, 0, ib.getWidth)
      java.util.Arrays.equals(pa, pb)
    }
  }

  /** Peak signal-to-noise ratio over RGB channels in dB;
    * Double.PositiveInfinity for identical images. */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    require(
      a.getWidth == b.getWidth && a.getHeight == b.getHeight,
      "psnr needs equal dimensions")
    var se = 0.0
    var n = 0L
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y)
        val pb = b.getRGB(x, y)
        var shift = 0
        while (shift < 24) {
          val d = ((pa >> shift) & 0xff) - ((pb >> shift) & 0xff)
          se += d.toDouble * d
          shift += 8
          n += 1
        }
        x += 1
      }
      y += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 * n / se)
  }

  /** Gzip compress (reference filter/gzip_.py:7-29). */
  def gzip(data: Array[Byte], level: Int = 9): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos) {
      `def`.setLevel(level)
    }
    gz.write(data)
    gz.close()
    bos.toByteArray
  }

  /** The most bytes [[gunzip]] inflates one payload to. Deflate
    * reaches about 1000:1, so a gzip row of a few MB can claim more than
    * an executor's heap and end the task with `OutOfMemoryError`, which
    * no error channel catches. A tile is at most a few MB decompressed;
    * 64 MiB leaves a wide margin above that while four concurrent tasks
    * stay well inside a 2 GB heap. */
  private val GunzipLimit: Int = 64 << 20

  /** Gzip decompress (reference filter/gzip_.py:32-38). Output past
    * `GunzipLimit` throws `IllegalArgumentException`. */
  def gunzip(data: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new ByteArrayInputStream(data))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      require(out.size <= GunzipLimit - n, s"gzip payload inflates past $GunzipLimit bytes")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** Deterministic smooth gradient image — the corpus's "photo-like"
    * payload. Smoothness matters: saturated hard-edged test patterns are
    * adversarial for any JPEG codec (chroma subsampling pins PSNR near
    * 25 dB regardless of quality), while natural smooth content easily
    * clears the PSNR >= 40 dB invariant. Phases derive from `seed`. */
  def gradientImage(size: Int, seed: Long): BufferedImage = {
    val img = new BufferedImage(size, size, BufferedImage.TYPE_INT_RGB)
    val p0 = (seed & 0xff).toDouble / 255.0 * math.Pi
    val p1 = ((seed >> 8) & 0xff).toDouble / 255.0 * math.Pi
    val p2 = ((seed >> 16) & 0xff).toDouble / 255.0 * math.Pi
    val f = 2.0 * math.Pi / size
    var y = 0
    while (y < size) {
      var x = 0
      while (x < size) {
        val r = (127.5 + 127.5 * math.sin(f * x + p0)).toInt
        val g = (127.5 + 127.5 * math.sin(f * y + p1)).toInt
        val b = (127.5 + 127.5 * math.sin(f * (x + y) * 0.5 + p2)).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Deterministic broad-spectrum "photo-like" image: a sum of K
    * oriented sinusoids with 1/f amplitudes, frequencies 1–8 cycles,
    * phases/orientations all derived from `seed` (splitmix64 per
    * component). Unlike [[gradientImage]] (whose energy sits at a
    * single DCT frequency, making perceptual hashing degenerate), this
    * fills the low-frequency DCT block the way natural photos do while
    * staying smooth enough for JPEG round-trips — it is the corpus
    * payload for the pHash near-dup operator ([[Phash]]). */
  def photoImage(size: Int, seed: Long): BufferedImage = {
    val K = 12
    val comps = Array.tabulate(K) { k =>
      val h = graft.engine.Corpus.splitmix64(seed + 0x5851f42d4c957f2dL * (k + 1))
      val freq = 1.0 + (h & 0x7L) // 1..8 cycles across the image
      val theta = ((h >>> 3) & 0x3ffL).toDouble / 1024.0 * math.Pi
      val phase = ((h >>> 13) & 0x3ffL).toDouble / 1024.0 * 2.0 * math.Pi
      val amp = 1.0 / freq
      (freq * 2.0 * math.Pi / size, math.cos(theta), math.sin(theta), phase, amp)
    }
    val ampSum = comps.map(_._5).sum
    val img = new BufferedImage(size, size, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < size) {
      var x = 0
      while (x < size) {
        var l = 0.0
        var k = 0
        while (k < K) {
          val (w, cx, cy, p, a) = comps(k)
          l += a * math.sin(w * (x * cx + y * cy) + p)
          k += 1
        }
        val v = (127.5 + 127.5 * l / ampSum).toInt
        // mild per-channel tint keeps it RGB without adding chroma edges
        val r = math.min(255, math.max(0, v + ((seed & 0xf).toInt - 8)))
        val g = v
        val b = math.min(255, math.max(0, v + (((seed >> 4) & 0xf).toInt - 8)))
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Deterministic 4-quadrant RGBA test image (the reference's metatile
    * fixture shape, tests/test_metatile.py:17-24): quadrant colors are
    * derived from `seed`. Used for PNG bit-exact fixtures. */
  def quadrantImage(size: Int, seed: Long): BufferedImage = {
    val img = new BufferedImage(size, size, BufferedImage.TYPE_INT_ARGB)
    val h = size / 2
    val colors = Array(
      0xff000000 | (((seed & 0xff) << 16).toInt),
      0xff000000 | ((((seed >> 8) & 0xff) << 8).toInt),
      0xff000000 | (((seed >> 16) & 0xff).toInt),
      0xff000000 | ((((seed >> 24) & 0xff) << 16).toInt | (((seed >> 32) & 0xff).toInt))
    )
    var y = 0
    while (y < size) {
      var x = 0
      while (x < size) {
        val q = (if (y < h) 0 else 2) + (if (x < h) 0 else 1)
        img.setRGB(x, y, colors(q))
        x += 1
      }
      y += 1
    }
    img
  }
}
