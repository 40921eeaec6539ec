package graft.tools

import org.apache.spark.sql.functions._

/** Dev: the DRAM cross-check for BASELINE.md. Times the flagship's
  * payload stage IN ISOLATION — a bare parquet scan of the bucketed
  * corpus plus xxhash64 over every image byte, with ZERO engine
  * operators (no join, no aggregation keys, no tile math). If this
  * stage does not scale N -> 4N on one box, the full-job efficiency
  * gap is attributable to the shared memory system, not to engine
  * coordination. `gen [rows]` materializes the table once; then run
  * `<cpus>` legs under taskset/APC. */
object PayloadScale {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("gen")) {
      val rows = if (args.length > 1) args(1).toLong else 800000L
      val spark = graft.Bench.mkSession(ToolUtil.cpus)
      graft.Bench.bucketedCorpus(spark, rows)
      println(s"[payloadscale] table written: $rows rows")
      spark.stop()
      return
    }
    val cpus = args(0).toInt
    val spark = graft.Bench.mkSession(cpus)
    val df = spark.read.parquet(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
        "/graft_corpus")
    def job() = df.select(xxhash64(col("bytes")).as("h"))
      .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
    job() // warm (page cache + JIT)
    var best = Double.MaxValue
    val iters = sys.env.getOrElse("GRAFT_SCALE_ITERS", "5").toInt
    for (_ <- 0 until iters) {
      val t0 = System.nanoTime()
      job()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    println(f"[payloadscale] cpus=$cpus best=$best%.2fs")
    spark.stop()
  }
}
