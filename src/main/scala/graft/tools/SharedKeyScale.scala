package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** sharedKeyPairs at ladder scale with planted ground truth: V videos
  * of F frames; every tenth video and its successor share exactly 8
  * frame keys, so the expected pair count is closed-form (V/10 pairs,
  * each with shared=8). The hot rung additionally plants one
  * boilerplate key (the black frame / studio intro) carried by EVERY
  * video — document frequency V, far above the df-cap — which the cap
  * must drop BEFORE the self-join: the evidence that the cap is a
  * partial-aggregating groupBy, not a hot-key-concentrating window,
  * is that the hot rung's wall stays at the clean rung's, instead of
  * one task counting 10^6 rows (and the join never seeing V^2/2
  * candidate pairs). Timing covers the operator only (input
  * localCheckpointed). Writes BENCH/SHAREDKEY_SCALE.md.
  */
object SharedKeyScale {

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")

    case class Rung(name: String, rows: Long, videos: Long, secs: Double,
        pairs: Long, expected: Long, sharedOk: Boolean, load: String)
    val rungs = scala.collection.mutable.ArrayBuffer[Rung]()
    val F = 10L // frames per video; j<8 shareable, j=8 unique, j=9 hot-able

    def run(name: String, videos: Long, hot: Boolean): Unit = {
      val rows = videos * F
      val v = (col("id") / F).cast("long")
      val j = (col("id") % F).cast("long")
      val key =
        when(lit(hot) && j === F - 1, lit("BOILER"))
          .when(v % 10 === 0 && j < 8, concat(lit("sh_"), v, lit("_"), j))
          .when(v % 10 === 1 && j < 8, concat(lit("sh_"), v - 1, lit("_"), j))
          .otherwise(concat(lit("u_"), v, lit("_"), j))
      val sigs = spark.range(0, rows, 1, 256)
        .select(concat(lit("v"), v).as("media_id"), key.as("fh"))
        .localCheckpoint()
      val load = ToolUtil.loadavg()
      val t0 = System.nanoTime()
      val got = Dedup.sharedKeyPairs(sigs, "media_id", "fh",
        minShared = 5L, dfCap = 1000L)
        .agg(count(lit(1)).as("n"), min("shared").as("lo"), max("shared").as("hi"))
        .head()
      val secs = (System.nanoTime() - t0) / 1e9
      val (pairs, lo, hi) = (got.getLong(0), got.getLong(1), got.getLong(2))
      val expected = videos / 10
      rungs += Rung(name, rows, videos, secs, pairs, expected,
        lo == 8L && hi == 8L, load)
      println(f"[sharedkeyscale] $name%-10s rows=$rows%9d videos=$videos%8d  $secs%7.2fs  ${rows / secs}%9.0f rows/s  pairs=$pairs/$expected shared=$lo..$hi  load=$load")
      sigs.unpersist()
    }

    run("warmup", 10000L, hot = false)
    rungs.clear()
    run("1M", 100000L, hot = false)
    run("10M", 1000000L, hot = false)
    run("10M-hot", 1000000L, hot = true)

    val sb = new StringBuilder
    sb ++= "# Shared-key pair mining at scale (Dedup.sharedKeyPairs)\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.tools.SharedKeyScale\"` on local[${ToolUtil.cpus}];\n"
    sb ++= "input (media_id, fh) materialized before the timed lattice. Every\n"
    sb ++= "tenth video shares exactly 8 frame keys with its successor, so the\n"
    sb ++= "pair count has a closed form the run must hit exactly (V/10 pairs,\n"
    sb ++= "each shared=8). The hot rung plants one boilerplate key carried by\n"
    sb ++= "EVERY video (df = V >> dfCap=1000). 1-min loadavg per rung; shared\n"
    sb ++= "box, +-30%.\n\n"
    sb ++= "| rung | rows | videos | wall s | rows/s | pairs (got/expected) | shared=8 |\n|---|---|---|---|---|---|---|\n"
    rungs.foreach { r =>
      sb ++= f"| ${r.name} | ${r.rows} | ${r.videos} | ${r.secs}%.2f | ${r.rows / r.secs}%.0f | ${r.pairs}/${r.expected}${if (r.pairs == r.expected) " ✓" else " ✗"} | ${if (r.sharedOk) "✓" else "✗"} (load ${r.load}) |\n"
    }
    sb ++= """
Reading it:

- The lattice is distinct → df-cap → key self-join → pair count. The
  df-cap is a partial-aggregating groupBy joined back on the key (the
  same key the self-join shuffles on), NOT a count() OVER (PARTITION BY
  key): a window would ship all V rows of the boilerplate key into one
  task just to count them — recreating the straggler the cap exists to
  prevent — before the filter could drop it.
- The 10M-hot rung is the measurement of that claim: one key with
  document frequency 10^6 (1000x the cap) adds only its share of the
  groupBy, so the hot wall tracks the clean 10M wall instead of a
  single-task count of 10^6 rows followed by a 5*10^11-candidate join.
- Recall/precision are pinned by the closed form: exactly V/10 pairs,
  every one at shared=8 (min=max=8), at every rung — the cap cannot
  create pairs and the planted pairs ride keys with df=2, far below it.
"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH/SHAREDKEY_SCALE.md"),
      sb.toString.getBytes("UTF-8"))
    println("[sharedkeyscale] wrote BENCH/SHAREDKEY_SCALE.md")
    spark.stop()
  }
}
