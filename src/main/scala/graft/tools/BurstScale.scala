package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** burstSessionize at ladder scale with planted ground truth: every
  * device's capture times follow t = j*4 + 64*(j/5), so bursts are
  * exactly runs of five and the expected burst count is closed-form
  * (devices × shots/5). Timing covers the operator only (input
  * localCheckpointed). The hot-device rung plants one device carrying
  * 100× the median shot count — the per-device window partition bound
  * the scaladoc documents, measured instead of assumed. Writes
  * BENCH/BURST_SCALE.md.
  */
object BurstScale {

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    case class Rung(name: String, rows: Long, devices: Long, secs: Double,
        bursts: Long, expected: Long, load: String)
    val rungs = scala.collection.mutable.ArrayBuffer[Rung]()

    def run(name: String, devices: Long, shotsPerDevice: Long,
        hotShots: Long = 0L): Unit = {
      val rows = devices * shotsPerDevice + hotShots
      val base = spark.range(0, devices * shotsPerDevice, 1, 256).select(
        (col("id") % devices).as("device"),
        floor(col("id") / devices).cast("long").as("j"))
      val all =
        if (hotShots == 0) base
        else base.unionAll(spark.range(0, hotShots, 1, 32).select(
          lit(-1L).as("device"), col("id").as("j")))
      val media = all.select(
        col("device"),
        concat(lit("p"), col("device"), lit("_"), col("j")).as("media_id"),
        // seconds → timestamp; bursts are exact runs of five
        timestamp_seconds(
          col("j") * 4 + floor(col("j") / 5).cast("long") * 64).as("ts"))
        .localCheckpoint()
      val load = ToolUtil.loadavg()
      val t0 = System.nanoTime()
      val bursts = Dedup.burstSessionize(media, "media_id", "device", "ts")
        .select("device", "burst_seq").distinct().count()
      val secs = (System.nanoTime() - t0) / 1e9
      val expected = devices * (shotsPerDevice / 5) + hotShots / 5
      rungs += Rung(name, rows, devices, secs, bursts, expected, load)
      println(f"[burstscale] $name%-12s rows=$rows%9d devices=$devices%7d  $secs%7.2fs  ${rows / secs}%9.0f rows/s  bursts=$bursts/$expected  load=$load")
      media.unpersist()
    }

    run("warmup", 100L, 100L)
    rungs.clear()
    run("1M", 10000L, 100L)
    run("10M", 10000L, 1000L)
    run("10M-hot", 10000L, 1000L, hotShots = 100000L)

    val sb = new StringBuilder
    sb ++= "# Burst sessionization at scale (Dedup.burstSessionize)\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.tools.BurstScale\"` on local[${ToolUtil.cpus}];\n"
    sb ++= "input (device, media_id, ts) materialized before the timed window.\n"
    sb ++= "Capture times are planted (runs of five 4s-apart shots separated\n"
    sb ++= "by 64s), so the burst count has a closed form the run must hit\n"
    sb ++= "exactly. 1-min loadavg per rung; shared box, +-30%.\n\n"
    sb ++= "| rung | rows | devices | wall s | rows/s | bursts (got/expected) |\n|---|---|---|---|---|---|\n"
    rungs.foreach { r =>
      sb ++= f"| ${r.name} | ${r.rows} | ${r.devices} | ${r.secs}%.2f | ${r.rows / r.secs}%.0f | ${r.bursts}/${r.expected}${if (r.bursts == r.expected) " ✓" else " ✗"} (load ${r.load}) |\n"
    }
    sb ++= """
Reading it:

- One hash exchange on device; the break-flag lag and the running sum
  share a single Window exec (same partitioning + ordering), so the
  rows/s here is shuffle + two-pass sort-window cost, nothing else.
- The hot rung plants one device with 100x the median shot count: the
  skewed partition rides the same exchange and the wall moves by the
  hot partition's sort, not by a replan — the documented per-device
  bound (one camera's write volume) is what keeps this safe at fleet
  scale; histories beyond that compose the partition key with a
  coarse time bucket.
"""
    val out = java.nio.file.Paths.get("BENCH/BURST_SCALE.md")
    java.nio.file.Files.write(out, sb.toString.getBytes("UTF-8"))
    println(s"[burstscale] wrote $out")
    spark.stop()
  }
}
