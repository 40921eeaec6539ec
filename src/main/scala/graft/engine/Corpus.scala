package graft.engine

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.image.ImageCodec

/** Deterministic synthetic image+caption corpus matching the
  * BASELINE.json `input_hint` schema:
  * `(image_id STRING, bytes BINARY, w INT, h INT, fmt STRING,
  * caption STRING, phash BIGINT)`.
  *
  * Generation is seeded per row id (splitmix64) and runs distributed via
  * `spark.range(n)` + typed map — image encoding happens on executors,
  * nothing is materialized on the driver, so the generator itself scales
  * with the cluster. The phash doubles as the deterministic position
  * driver: its two 30-bit halves give the (px, py) fractions used for
  * tile assignment (FIXTURES.md §1).
  */
object Corpus {

  /** splitmix64 — public-domain mixing function; the corpus's only
    * source of randomness, fully determined by the row id. */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def captionFor(i: Long, phash: Long): String =
    f"caption-$i-${phash}%016x"

  /** Build one corpus row; `jpegEvery`-th rows take the lossy path.
    * Payload is a smooth gradient (photo-like — see
    * ImageCodec.gradientImage on why hard-edged patterns would make the
    * PSNR invariant unmeetable for any JPEG codec). */
  def row(i: Long, size: Int = 64, jpegEvery: Int = 10): ImageRow = {
    val phash = splitmix64(i)
    // phase 7 % jpegEvery, not a bare 7: with jpegEvery <= 7 the literal
    // residue is never hit and the corpus would silently contain zero
    // JPEGs; the modulo keeps the default (jpegEvery=10 → residue 7)
    // bit-identical, so every pinned-constant oracle stands
    val isJpeg = jpegEvery > 0 && i % jpegEvery == 7 % jpegEvery
    val fmt = if (isJpeg) "jpeg" else "png"
    val img = ImageCodec.gradientImage(size, phash)
    val bytes = ImageCodec.encode(img, fmt)
    ImageRow(f"img$i%012d", bytes, size, size, fmt, captionFor(i, phash), phash)
  }

  /** Photo-like near-dup media corpus for the perceptual-hash operator
    * ([[graft.image.Phash]]): `n` base rows — `imgNNN`, a broad-spectrum
    * [[ImageCodec.photoImage]] encoded PNG — plus, for every row with
    * `i % dupEvery == dupPhase`, a near-duplicate `dupNNN`: the SAME
    * picture re-encoded as JPEG at `quality`. The dup structure is thus
    * ground truth derivable from ids alone (the q49 oracle), while the
    * Spark side must recover it from pixels. Distributed generation,
    * same shape as [[generate]]. */
  def generateNearDupMedia(
      spark: SparkSession,
      n: Long,
      dupEvery: Int = 5,
      dupPhase: Int = 2,
      quality: Float = 0.7f,
      size: Int = 64): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).flatMap { i =>
      val img = ImageCodec.photoImage(size, splitmix64(i))
      val base = MediaRow(f"img$i%012d", ImageCodec.encode(img, "png"))
      if (i % dupEvery == dupPhase)
        Seq(base, MediaRow(f"dup$i%012d", ImageCodec.encodeJpeg(img, quality)))
      else Seq(base)
    }
  }

  /** Distributed corpus of `n` rows. */
  def generate(
      spark: SparkSession,
      n: Long,
      size: Int = 64,
      numPartitions: Int = 0): Dataset[ImageRow] = {
    import spark.implicits._
    val base =
      if (numPartitions > 0) spark.range(0, n, 1, numPartitions)
      else spark.range(n)
    base.map(i => row(i, size))
  }
}
