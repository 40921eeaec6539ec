package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sql.TileFunctions.{cellId, hilbertId}

/** Layout-geometry evidence for the Hilbert cell id (q71,
  * sql/TileFunctions.hilbertId) as the RANGE-PARTITION key: split the
  * full zoom-z tile grid into P equal-count key ranges — exactly what
  * a range partitioner / Iceberg sort order does with 10^12 rows and
  * P executors' worth of files — and measure, for Hilbert vs Morton
  * (Z-order cellId) keys:
  *
  *  - **partition compactness**: per range, bbox area / row count
  *    (1.0 = a perfect rectangle; big = the range straddles a curve
  *    seam and its "partition" is two far-apart blobs, so a spatial
  *    predicate that should touch one partition's files reads two
  *    regions' worth)
  *  - **ring spread**: the mean number of distinct partitions holding
  *    a cell's 3x3 neighborhood — what a kNN ring probe or a meta-tile
  *    assembly actually pays per lookup
  *
  * Both metrics are pure layout geometry: DETERMINISTIC, zero timing,
  * immune to shared-box noise. The P values matter: when P is a power
  * of 4 aligned to the zoom (P=64), Morton ranges are exactly aligned
  * quadtree blocks and look fine; real clusters size P by executor
  * count (P=100, P=1000), where Morton ranges straddle quadrant seams
  * but Hilbert ranges stay connected at ANY P (consecutive curve steps
  * are grid-adjacent — HilbertSpec proves 0 seam jumps).
  *
  * Writes BENCH/HILBERT_LAYOUT.md. Args: [zoom] [Ps] (defaults 10 and
  * "64,100,1000").
  */
object HilbertScale {

  final case class Row(key: String, p: Int, meanRatio: Double, maxRatio: Double,
      worstBboxPct: Double, ringMean: Double, ringMax: Long)

  def main(args: Array[String]): Unit = {
    val zoom = if (args.length > 0) args(0).toInt else 10
    val ps = (if (args.length > 1) args(1) else "64,100,1000").split(",").map(_.trim.toInt)
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val n = 1L << zoom
    val lo = 1L << (2 * zoom) // zoom sentinel: ids are dense in [lo, 2*lo)

    // the full grid with both keys, materialized once
    val keyed = spark.range(n * n)
      .select((col("id") % n).as("x"), (col("id") / n).cast("long").as("y"))
      .select(col("x"), col("y"),
        hilbertId(lit(zoom), col("x"), col("y")).as("hilbert"),
        cellId(lit(zoom), col("x"), col("y")).as("morton"))
      .localCheckpoint()

    val rows = scala.collection.mutable.ArrayBuffer[Row]()
    for (p <- ps; key <- Seq("hilbert", "morton")) {
      // equal-count range bucket over the dense id space — the exact
      // cut a range partitioner converges to under uniform density
      val bucket = ((col(key) - lo) * p / lo).cast("int").as("b")

      val per = keyed.select(col("x"), col("y"), bucket)
        .groupBy("b")
        .agg(count(lit(1)).as("cnt"),
          (max("x") - min("x") + 1).as("w"), (max("y") - min("y") + 1).as("h"))
        .select(col("cnt"), (col("w") * col("h")).cast("double").as("area"))
        .select((col("area") / col("cnt")).as("ratio"),
          (col("area") / (n * n).toDouble).as("gridFrac"))
        .agg(avg("ratio"), max("ratio"), max("gridFrac"))
        .head()
      val (meanRatio, maxRatio, worstFrac) =
        (per.getDouble(0), per.getDouble(1), per.getDouble(2))

      // ring spread: distinct buckets across each cell's 3x3 ring
      val offsets = (for (dx <- -1 to 1; dy <- -1 to 1)
        yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))
      val ring = keyed
        .select(col("x"), col("y"), explode(array(offsets: _*)).as("o"))
        .select(col("x"), col("y"),
          (col("x") + col("o.dx")).as("nx"), (col("y") + col("o.dy")).as("ny"))
        .where(col("nx") >= 0 && col("nx") < n && col("ny") >= 0 && col("ny") < n)
        .select(col("x"), col("y"),
          (((if (key == "hilbert") hilbertId(lit(zoom), col("nx"), col("ny"))
             else cellId(lit(zoom), col("nx"), col("ny"))) - lo) * p / lo)
            .cast("int").as("nb"))
        .groupBy("x", "y")
        .agg(countDistinct("nb").as("k"))
        .agg(avg("k"), max("k"))
        .head()
      val (ringMean, ringMax) = (ring.getDouble(0), ring.getLong(1))

      rows += Row(key, p, meanRatio, maxRatio, worstFrac * 100.0, ringMean, ringMax)
      println(f"[hilbertscale] z=$zoom P=$p%5d $key%-7s bbox/cnt mean=$meanRatio%7.2f max=$maxRatio%9.2f worst-bbox=${worstFrac * 100}%6.2f%% of grid  ring mean=$ringMean%5.3f max=$ringMax")
    }

    val sb = new StringBuilder
    sb.append("# HILBERT_LAYOUT — range-partition geometry: Hilbert vs Morton keys (tools/HilbertScale)\n\n")
    sb.append(s"Full zoom-$zoom grid (${n * n} tiles) split into P equal-count key\n")
    sb.append("ranges — the physical layout a range partitioner / sort order\n")
    sb.append("produces. Pure geometry, deterministic, no timing. bbox/cnt = per-\n")
    sb.append("partition bounding-box area over row count (1.0 = perfect rectangle);\n")
    sb.append("worst bbox = the largest partition bbox as % of the whole grid; ring =\n")
    sb.append("distinct partitions holding a cell's 3x3 neighborhood (what one kNN\n")
    sb.append("ring probe or meta-tile assembly pays in partition touches).\n\n")
    sb.append("| key | P | bbox/cnt mean | bbox/cnt max | worst bbox (% of grid) | ring mean | ring max |\n")
    sb.append("|---|---|---|---|---|---|---|\n")
    rows.foreach { r =>
      sb.append(f"| ${r.key} | ${r.p} | ${r.meanRatio}%.2f | ${r.maxRatio}%.2f | ${r.worstBboxPct}%.2f%% | ${r.ringMean}%.3f | ${r.ringMax} |\n")
    }
    sb.append("\nReading it:\n\n")
    sb.append("- P=64 (power of 4 aligned to the zoom): Morton ranges are exact\n")
    sb.append("  quadtree blocks — compactness parity with Hilbert. Nobody gets to\n")
    sb.append("  pick executor counts that way at 10^12 rows.\n")
    sb.append("- P=100 / P=1000 (how clusters are actually sized): Morton ranges\n")
    sb.append("  straddle quadrant seams — the worst partition's bbox covers a\n")
    sb.append("  large fraction of the whole grid, so file-level min/max pruning on\n")
    sb.append("  (x, y) keeps that partition's files in EVERY spatial scan that\n")
    sb.append("  touches either blob. Hilbert stays near-rectangular at every P\n")
    sb.append("  because consecutive curve steps are grid-adjacent (HilbertSpec).\n")
    sb.append("- ring spread barely differs between the curves — the win is not\n")
    sb.append("  fewer partition touches per point probe (both curves cut the grid\n")
    sb.append("  into ~P regions) but that each touched Hilbert partition is ONE\n")
    sb.append("  compact region, which is what makes range pruning and co-located\n")
    sb.append("  spatial scans effective at cluster-sized P.\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/HILBERT_LAYOUT.md"), sb.toString)
    println("[hilbertscale] wrote BENCH/HILBERT_LAYOUT.md")
    spark.stop()
  }
}
