package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.BoundingPyramid
import graft.engine.{Checkpoint, Filters, Pipeline}

/** Root-cause the copy-job sink straggler (BENCH/COPYJOB.md pass 2:
  * per-partition wall max 23 s vs mean 4.9 s): reproduce the exact
  * pass-2 resume write, then separate the two hypotheses —
  *
  *   1. **payload skew**: aggregate rows AND bytes per sink partition
  *      from the identical pre-sink relation (dry run, no write). If
  *      the slow partitions carry proportionally more bytes, it's data.
  *   2. **the one local disk**: re-drain the identical instrumented
  *      relation into Spark's `noop` sink (same partitioning, same
  *      per-partition metrics, zero disk I/O). If the noop drain is
  *      flat where the real write straggles, it's the device.
  *
  * Prints the per-partition table (rows, MB, write s, noop s) and the
  * max/mean ratios per leg. Args: [cpus] [rows].
  */
object CopySinkDiag {

  private def cleanDir(p: String): Unit = ToolUtil.deleteRec(p)

  def main(args: Array[String]): Unit = {
    val cpus = if (args.length > 0) args(0).toInt else 16
    val rows = if (args.length > 1) args(1).toLong else 800000L
    val base = s"/tmp/graft_sinkdiag_$cpus"
    cleanDir(base)
    Files.createDirectories(Paths.get(base))
    val sink = s"$base/sink"
    val metrics = s"$base/metrics"

    val spark = graft.Bench.mkSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val corpus = graft.Bench.bucketedCorpus(spark, rows)
    corpus.count()

    // pass 1 (untimed): fill z4..8 so the diagnosed write is the exact
    // pass-2 resume profile from COPYJOB.md
    Pipeline.copyJob(
      spark, corpus, BoundingPyramid.full(4, 8), sink, metrics, "diag-pass1")

    val bp = BoundingPyramid.full(4, 10)
    def presink() = {
      val winners = Checkpoint.resume(
        Pipeline.tileWinners(corpus, bp.zs.toSeq, region = Some(bp)), sink)
      Filters.formatConverter("image/png")(Pipeline.attachBytes(corpus, winners))
    }

    // dry leg: rows + bytes per sink partition, no write
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    val hist = presink()
      .select(spark_partition_id().as("pid"), length(col("data")).as("b"))
      .groupBy("pid")
      .agg(count(lit(1)).as("rows"), sum("b").as("bytes"))
      .collect()
      .map(r => r.getAs[Int]("pid") -> (r.getAs[Long]("rows"), r.getAs[Long]("bytes")))
      .toMap

    // noop leg: identical instrumented relation, zero disk I/O
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    val tN0 = System.nanoTime()
    Checkpoint.instrument(presink(), "diag-noop", "sink", metrics)
      .write.format("noop").mode("overwrite").save()
    Checkpoint.flush("diag-noop", "sink")
    val noopWall = (System.nanoTime() - tN0) / 1e9

    // real write leg: the exact pass-2 copyJob
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    val tW0 = System.nanoTime()
    Pipeline.copyJob(spark, corpus, bp, sink, metrics, "diag-pass2")
    val writeWall = (System.nanoTime() - tW0) / 1e9

    val m = Checkpoint.readMetrics(spark, metrics)
      .where(col("stage") === "sink")
    def perPid(job: String): Map[Int, (Long, Double)] =
      m.where(col("job_id") === job)
        .select("partition_id", "rows", "nanos")
        .collect()
        .map(r => r.getAs[Int]("partition_id") ->
          (r.getAs[Long]("rows"), r.getAs[Long]("nanos") / 1e9))
        .toMap
    val writeM = perPid("diag-pass2")
    val noopM = perPid("diag-noop")

    // NOTE: writeWall covers the whole copyJob INCLUDING its post-write
    // verification scan of the full sink (Pipeline.copyJob's read-back
    // count), which the noop leg does not perform — compare the legs by
    // the per-partition task seconds below, never by these walls.
    println(f"[sinkdiag] cpus=$cpus rows=$rows  write wall=$writeWall%.2f s (incl. post-write sink count)  noop wall=$noopWall%.2f s")
    println("pid | rows | MB | write_s | noop_s")
    val pids = writeM.keys.toSeq.sorted
    for (pid <- pids) {
      val (wr, ws) = writeM(pid)
      val ns = noopM.get(pid).map(_._2).getOrElse(Double.NaN)
      val (hr, hb) = hist.getOrElse(pid, (-1L, -1L))
      println(f"$pid%3d | $wr%7d (dry $hr%7d) | ${hb / 1e6}%8.1f | $ws%6.2f | $ns%6.2f")
    }
    def stats(xs: Iterable[Double]): (Double, Double) =
      (xs.sum / xs.size, xs.max)
    val (wMean, wMax) = stats(writeM.values.map(_._2))
    val (nMean, nMax) = stats(noopM.values.map(_._2))
    val (bMean, bMax) = stats(hist.values.map(_._2.toDouble))
    val (rMean, rMax) = stats(hist.values.map(_._1.toDouble))
    println(f"[sinkdiag] rows/partition:  mean=$rMean%.0f max=$rMax%.0f (${rMax / rMean}%.2fx)")
    println(f"[sinkdiag] bytes/partition: mean=${bMean / 1e6}%.1f MB max=${bMax / 1e6}%.1f MB (${bMax / bMean}%.2fx)")
    println(f"[sinkdiag] write task s:    mean=$wMean%.2f max=$wMax%.2f (${wMax / wMean}%.2fx)")
    println(f"[sinkdiag] noop  task s:    mean=$nMean%.2f max=$nMax%.2f (${nMax / nMean}%.2fx)")
    spark.stop()
  }
}
