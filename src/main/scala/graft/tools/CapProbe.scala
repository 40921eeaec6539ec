package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev probe: bucket-size cap via sort-based Window vs partial-agg
  * groupBy + join-back, on an LSH-shaped (id, band, key) explode with
  * one planted DEGENERATE bucket (every row shares band-0's key — the
  * "near-constant signature" production fire the cap exists for).
  * Measures the full cap → self-join → count lattice, both forms, so
  * exchange-reuse effects are included. Args: [rows] [hot: true|false]
  */
object CapProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000000L
    val hot = args.length <= 1 || args(1).toBoolean
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val cap = 1000L

    // 4-band explode of n ids; bands 1-3 hash-spread (tiny buckets),
    // band 0 constant when hot (one n-row bucket the cap must drop)
    def exploded(): DataFrame = {
      val base = spark.range(0, n, 1, 256).select(col("id"))
      val bandCols = (0 until 4).map { b =>
        val key =
          if (b == 0 && hot) lit(0L)
          else pmod(xxhash64(col("id"), lit(b)), lit(n / 4))
        struct(lit(b).as("band"), key.as("key"))
      }
      base
        .select(col("id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    }

    def selfJoinCount(capped: DataFrame): Long =
      capped.as("a")
        .join(
          capped.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("da"), col("b.id").as("db"))
        .distinct()
        .count()

    def windowForm(e: DataFrame): DataFrame =
      e.withColumn("__bucket_size",
          count(lit(1)).over(Window.partitionBy("band", "key")))
        .where(col("__bucket_size") <= cap)
        .drop("__bucket_size")

    def groupByForm(e: DataFrame): DataFrame = {
      // explicit not-null filter on the join keys so both consumers of
      // the exploded relation canonicalize identically (the q77 lesson)
      val base = e.where(col("band").isNotNull && col("key").isNotNull)
      val sizes = base.groupBy("band", "key")
        .agg(count(lit(1)).as("__bucket_size"))
        .where(col("__bucket_size") <= cap)
        .select(col("band"), col("key"))
      base.join(sizes, Seq("band", "key"))
    }

    Seq(("window", () => windowForm(exploded())),
        ("groupBy", () => groupByForm(exploded())),
        ("window2", () => windowForm(exploded())),
        ("groupBy2", () => groupByForm(exploded()))).foreach { case (name, f) =>
      val load = ToolUtil.loadavg()
      val t0 = System.nanoTime()
      val pairs = selfJoinCount(f())
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[capprobe] $name%-8s n=$n hot=$hot ${secs}%8.2fs pairs=$pairs load=$load")
    }
    spark.stop()
  }
}
