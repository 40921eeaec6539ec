package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** EXIF + orientation-stage throughput — the metadata counterpart of
  * [[ImageScale]]. Three cost classes a 10^12-image corpus pays very
  * different prices for:
  *
  *  1. `exifMeta` — pure byte walk (APP1 → TIFF IFD0), no decode;
  *  2. `orientNormalize` on orientation-1 rows — the dominant
  *     upright-photo path: header-peek dims, bytes pass through;
  *  3. `orientNormalize` on orientation-2-8 rows — full decode +
  *     affine remap + re-encode, the only class that touches pixels.
  *
  * Inputs are materialized (localCheckpoint) before each timed window;
  * the count scans the error column (zero errors required). Writes
  * BENCH/ORIENT_SCALE.md.
  */
object OrientScale {

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    case class Rung(stage: String, n: Long, secs: Double, errors: Long, load: String)
    val rungs = scala.collection.mutable.ArrayBuffer[Rung]()

    def time(stage: String, n: Long)(df: => DataFrame): Unit = {
      val load = ToolUtil.loadavg()
      val t0 = System.nanoTime()
      val errors = df.where(col("error").isNotNull).count()
      val secs = (System.nanoTime() - t0) / 1e9
      rungs += Rung(stage, n, secs, errors, load)
      println(f"[orientscale] $stage%-18s n=$n%8d  $secs%7.2fs  ${n / secs}%9.0f rows/s  errors=$errors  load=$load")
    }

    // warmup (codegen + ImageIO plugin discovery), unrecorded
    Multimodal.orientNormalize(
      graft.engine.Corpus.generate(spark, 2000L).toDF()
        .select(col("image_id").as("media_id"), col("bytes"),
          lit(6).cast("int").as("orientation"))).count()

    // 1) exifMeta: 1M camera-layout APP1 payloads — IFD0 + GPS sub-IFD
    // (rational triples both axes), so the rate covers the FULL walk
    val nMeta = 1000000L
    val exifRows = spark.range(0, nMeta, 1, 256).map { i =>
      (f"m$i%08d", Multimodal.synthExifJpeg(
        (1 + i % 8).toInt, s"cam${i % 32}",
        f"2024:${1 + i % 12}%02d:${1 + i % 28}%02d 12:00:${i % 60}%02d",
        i % 2 == 0,
        gps = Some((
          if (i % 4 < 2) "N" else "S",
          Seq((i % 80, 1L), (i % 60, 1L), ((i * 7) % 6000, 100L)),
          if (i % 2 == 0) "E" else "W",
          Seq((i % 179, 1L), ((i * 3) % 60, 1L), ((i * 11) % 6000, 100L))))))
    }.toDF("media_id", "bytes").localCheckpoint()
    time("exifMeta", nMeta)(Multimodal.exifMeta(exifRows))
    exifRows.unpersist()

    // 2) orientation-1 passthrough: header-peek dims on real PNG/JPEG
    val nPass = 1000000L
    val pass = graft.engine.Corpus.generate(spark, nPass, numPartitions = 256)
      .toDF()
      .select(col("image_id").as("media_id"), col("bytes"),
        lit(1).cast("int").as("orientation"))
      .localCheckpoint()
    time("passthrough(o=1)", nPass)(Multimodal.orientNormalize(pass))
    pass.unpersist()

    // 3) rotate path: decode + affine remap + re-encode, o uniform 2-8
    val nRot = 100000L
    val rot = graft.engine.Corpus.generate(spark, nRot, numPartitions = 256)
      .toDF()
      .select(col("image_id").as("media_id"), col("bytes"),
        (pmod(xxhash64(col("image_id")), lit(7)) + 2).cast("int")
          .as("orientation"))
      .localCheckpoint()
    time("rotate(o=2-8)", nRot)(Multimodal.orientNormalize(rot))
    rot.unpersist()

    val sb = new StringBuilder
    sb ++= "# EXIF + orientation-stage throughput (Multimodal.exifMeta / orientNormalize)\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.tools.OrientScale\"` on local[${ToolUtil.cpus}];\n"
    sb ++= "inputs materialized before each timed window (localCheckpoint), so\n"
    sb ++= "windows cover the operator only. 1-min loadavg per rung; shared\n"
    sb ++= "box, treat numbers as +-30%.\n\n"
    sb ++= "| stage | rows | wall s | rows/s | per-core rows/s | errors |\n|---|---|---|---|---|---|\n"
    rungs.foreach { r =>
      sb ++= f"| ${r.stage} | ${r.n} | ${r.secs}%.2f | ${r.n / r.secs}%.0f | ${r.n / r.secs / ToolUtil.cpus}%.0f | ${r.errors} (load ${r.load}) |\n"
    }
    sb ++= """
Reading it:

- The three stages are different cost classes on purpose: metadata
  extraction (the FULL walk — IFD0 plus the GPS sub-IFD's six
  rational reads and sign refs) and the upright-photo passthrough
  never decode a raster (byte walk / header peek), so at 10^12
  images only the rotated
  minority (a few percent of a real photo corpus) pays
  decode + remap + re-encode. Fleet-sizing a normalization sweep
  therefore keys off the ROTATED fraction times the rotate-rung
  rate, not the corpus size times the decode rate.
- The rotate rung is re-encode-dominated (same PNG/JPEG writer cost
  the copy pipeline measures in COPYJOB.md); the affine remap itself
  is a single bulk-array pass and does not register next to it.
- Pixels never shuffle in any stage — every rung is mapPartitions
  over the already-partitioned corpus, so these per-core rates
  transfer directly to a 1000-executor sweep.
"""
    val out = java.nio.file.Paths.get("BENCH/ORIENT_SCALE.md")
    java.nio.file.Files.write(out, sb.toString.getBytes("UTF-8"))
    println(s"[orientscale] wrote $out")
    spark.stop()
  }
}
