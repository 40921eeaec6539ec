package graft.image

import java.awt.image.BufferedImage

/** 64-bit DCT perceptual hash ("pHash") for image near-duplicate
  * detection — the image-side sibling of the text SimHash in
  * [[graft.dedup.Dedup]]: re-encodes (PNG↔JPEG, quality changes) and
  * small photometric perturbations of the same picture land within a
  * few bits of hamming distance, while different pictures land far
  * apart, so near-dup pairs reduce to a hamming-banded self-join over
  * a 64-bit column (see `Dedup.phashPairs`).
  *
  * The reference engine deduplicates tiles only by exact payload hash
  * (tilecloud Tile equality is coordinate+data, tests/test_tile.py);
  * perceptual near-dup is part of this engine's LLM-corpus extension,
  * alongside MinHash/SimHash for text.
  *
  * Pipeline (classic pHash, public algorithm):
  *  1. luma (BT.601 0.299/0.587/0.114) + area-average downscale to
  *     32×32 — explicit arithmetic, no AWT interpolation, so the hash
  *     is bit-deterministic for given pixels;
  *  2. 2-D DCT-II (separable, precomputed 32×32 basis);
  *  3. keep the top-left 8×8 low-frequency block, flatten row-major;
  *  4. median of the 63 non-DC coefficients; bit i = coeff(i) > median.
  *
  * Every step is per-row and branch-free — the operator adds no
  * shuffle; only the pair join in `Dedup.phashPairs` exchanges data,
  * and it exchanges (id, long) keys, never pixels.
  */
object Phash {

  private val N = 32
  private val Block = 8

  /** DCT-II basis, basis(k)(x) = c(k)·cos(π(2x+1)k / 2n). */
  private def mkBasis(n: Int): Array[Array[Double]] = {
    val m = Array.ofDim[Double](n, n)
    var k = 0
    while (k < n) {
      val c = if (k == 0) math.sqrt(1.0 / n) else math.sqrt(2.0 / n)
      var x = 0
      while (x < n) {
        m(k)(x) = c * math.cos(math.Pi * (2 * x + 1) * k / (2.0 * n))
        x += 1
      }
      k += 1
    }
    m
  }

  private val basis: Array[Array[Double]] = mkBasis(N)
  // 64×64 basis for the wide (256-bit) hash; lazy — only image
  // pipelines that opt into wide signatures pay for it
  private lazy val basis64: Array[Array[Double]] = mkBasis(64)

  /** Luma plane area-averaged to 32×32. */
  private[image] def luma32(img: BufferedImage): Array[Double] =
    lumaGrid(img, N, N)

  /** Luma plane area-averaged to an arbitrary `gw`×`gh` grid. Exact
    * pixel-weight arithmetic (each source pixel contributes its
    * overlap fraction), so any source size maps deterministically. */
  private[image] def lumaGrid(img: BufferedImage, gw: Int, gh: Int): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Double](gw * gh)
    val wgt = new Array[Double](gw * gh)
    val sx = gw.toDouble / w
    val sy = gh.toDouble / h
    var y = 0
    while (y < h) {
      // source row y covers [y·sy, (y+1)·sy) in target space
      val ty0 = y * sy
      val ty1 = (y + 1) * sy
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val l = 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        val tx0 = x * sx
        val tx1 = (x + 1) * sx
        var ty = math.floor(ty0).toInt
        while (ty < ty1 && ty < gh) {
          val fy = math.min(ty1, ty + 1.0) - math.max(ty0, ty.toDouble)
          if (fy > 0) {
            var tx = math.floor(tx0).toInt
            while (tx < tx1 && tx < gw) {
              val fx = math.min(tx1, tx + 1.0) - math.max(tx0, tx.toDouble)
              if (fx > 0) {
                out(ty * gw + tx) += l * fx * fy
                wgt(ty * gw + tx) += fx * fy
              }
              tx += 1
            }
          }
          ty += 1
        }
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < gw * gh) { if (wgt(i) > 0) out(i) /= wgt(i); i += 1 }
    out
  }

  /** Top-left `Block`×`Block` of the 2-D DCT of a 32×32 plane. */
  private[image] def dctBlock(plane: Array[Double]): Array[Double] =
    dctBlockN(plane, N, Block, basis)

  /** Top-left `block`×`block` of the 2-D DCT of an `n`×`n` plane.
    * Separable: rows first (only the first `block` output frequencies
    * are ever used, so only those are computed), then columns. */
  private[image] def dctBlockN(
      plane: Array[Double], n: Int, block: Int, b: Array[Array[Double]]): Array[Double] = {
    // rows: tmp(y)(u) = Σ_x plane(y,x)·b(u)(x), u < block
    val tmp = Array.ofDim[Double](n, block)
    var y = 0
    while (y < n) {
      var u = 0
      while (u < block) {
        var s = 0.0
        var x = 0
        while (x < n) { s += plane(y * n + x) * b(u)(x); x += 1 }
        tmp(y)(u) = s
        u += 1
      }
      y += 1
    }
    // cols: out(v,u) = Σ_y tmp(y)(u)·b(v)(y)
    val out = new Array[Double](block * block)
    var v = 0
    while (v < block) {
      var u = 0
      while (u < block) {
        var s = 0.0
        var yy = 0
        while (yy < n) { s += tmp(yy)(u) * b(v)(yy); yy += 1 }
        out(v * block + u) = s
        u += 1
      }
      v += 1
    }
    out
  }

  /** 64-bit perceptual hash of a decoded image. */
  def phash64(img: BufferedImage): Long = {
    val coeffs = dctBlock(luma32(img))
    // Threshold = midpoint of the 31st/32nd order statistics of the 63
    // non-DC coefficients — NOT the strict odd median (that would be
    // sorted(31), the convention phash256 uses at its size). This is the
    // operator's historical threshold; the maxHamming=7 banding, the
    // PhashProbe intra<=6/inter>=12 margins, and the pinned q49/q57/q59
    // oracles are all calibrated against it, so it must not move. Any
    // coefficient landing strictly between the two conventions shifts at
    // most a bit or two, well inside the measured margin.
    val sorted = java.util.Arrays.copyOfRange(coeffs, 1, coeffs.length)
    java.util.Arrays.sort(sorted)
    val median = (sorted(30) + sorted(31)) / 2.0
    var h = 0L
    var i = 0
    while (i < 64) {
      if (coeffs(i) > median) h |= (1L << i)
      i += 1
    }
    h
  }

  /** 64-bit difference hash ("dHash", public algorithm): 9×8 luma
    * grid, bit (r, c) = cell (r, c) > cell (r, c+1) — horizontal
    * gradient signs. Cheaper than pHash (no DCT) and robust to the
    * same re-encode/brightness perturbations (global brightness shifts
    * cancel in the differences); less robust to aspect changes. */
  def dhash64(img: BufferedImage): Long = {
    val g = lumaGrid(img, 9, 8)
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (g(r * 9 + c) > g(r * 9 + c + 1)) h |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    h
  }

  /** 64-bit average hash ("aHash"): 8×8 luma grid, bit = cell > the
    * grid mean. Cheapest of the family; most sensitive to global
    * brightness shifts (the mean moves with them). */
  def ahash64(img: BufferedImage): Long = {
    val g = lumaGrid(img, 8, 8)
    var mean = 0.0
    var i = 0
    while (i < 64) { mean += g(i); i += 1 }
    mean /= 64.0
    var h = 0L
    i = 0
    while (i < 64) { if (g(i) > mean) h |= (1L << i); i += 1 }
    h
  }

  /** 256-bit wide perceptual hash (PDQ-width): 64×64 luma plane,
    * 2-D DCT, top-left 16×16 low-frequency block, median threshold
    * over the 255 non-DC coefficients, packed little-endian into 4
    * longs (bit i → word i>>6, bit i&63). Same contract as
    * [[phash64]] at 4× the resolution: finer perceptual separation,
    * and — the scale point — band keys of 256/(t+1) bits instead of
    * 64/(t+1), which is what keeps hamming-band buckets O(1) at 10⁹+
    * rows (BENCH/DEDUP_SCALE.md's wide rung; the 64-bit layout is
    * measured candidate-quadratic at ~10⁸). Feed to
    * [[graft.dedup.Dedup.hammingPairsAuto]] with bits=256. */
  def phash256(img: BufferedImage): Array[Long] = {
    val coeffs = dctBlockN(lumaGrid(img, 64, 64), 64, 16, basis64)
    val sorted = java.util.Arrays.copyOfRange(coeffs, 1, coeffs.length)
    java.util.Arrays.sort(sorted)
    val median = sorted(127) // 255 non-DC coefficients, true middle
    val sig = new Array[Long](4)
    var i = 0
    while (i < 256) {
      if (coeffs(i) > median) sig(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    sig
  }

  /** Decode-then-wide-hash ([[phash256]]). */
  def phash256Of(bytes: Array[Byte]): Array[Long] = phash256(ImageCodec.decode(bytes))

  /** Decode-then-hash by algorithm name: phash | dhash | ahash. */
  def hashOf(bytes: Array[Byte], algo: String): Long = {
    val img = ImageCodec.decode(bytes)
    algo match {
      case "phash" => phash64(img)
      case "dhash" => dhash64(img)
      case "ahash" => ahash64(img)
      case other => throw new IllegalArgumentException(s"unknown hash: $other")
    }
  }

  /** Hamming distance between two 64-bit hashes (driver-side helper;
    * the column form is `bit_count(a ^ b)`). */
  def hammingDist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
