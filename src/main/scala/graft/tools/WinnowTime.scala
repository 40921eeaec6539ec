package graft.tools

import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Dev: md5 vs xxhash64 winnowing keys on the real documents table —
  * the number behind winnowKeysFast's scaladoc. Args: [sfDir] [reps]. */
object WinnowTime {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def run(fast: Boolean): Double = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        TextOps.winnowFingerprints(docs, "text", 8, 7, fast = fast)
          .select(explode_outer(col("winnow")))
          .where(col("col").isNotNull)
          .count()
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }
    run(fast = true) // warmup, unrecorded
    val md5s = run(fast = false)
    val fasts = run(fast = true)
    println(f"[winnowtime] md5=${md5s}%.2fs xxhash64=${fasts}%.2fs ratio=${md5s / fasts}%.2fx load=${ToolUtil.loadavg()}")
    spark.stop()
  }
}
