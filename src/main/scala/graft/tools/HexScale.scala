package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CellIndex
import graft.engine.Spatial

/** Scale-ladder evidence for the hexagonal cell index
  * (engine/Spatial.hexCellOfPoint / hexDisk): the claim under test is
  * the one in the module scaladoc — a hex id is as cheap a
  * join/partition key as the quad cell id, because both are one
  * codegen'd column expression and one shuffle on the resulting long.
  *
  * Resolution tracks density, exactly as a production H3 deployment
  * picks its resolution: hex size shrinks as 1/√mult so cell count
  * grows ∝ points and mean OCCUPANCY stays constant. That is the knob
  * that keeps a disk join linear — at FIXED resolution, candidates
  * per query = 19 × occupancy grows with n, and total disk-join work
  * goes n²/cells (measured: 476M candidates for 10M points at the 1x
  * size — the quadratic regime this ladder's sizing rule avoids; the
  * same law as DEDUP_SCALE's 16-bit-band cliff, and the same fix:
  * grow the key space with the data).
  *
  * Per rung (1x / 10x / 100x points over the same deterministic
  * generator as SpatialScale):
  *  - timed: hex binning (q72 shape — assign + groupBy(cell) count)
  *  - timed: quad binning of the SAME points at matched granularity
  *    (zoom chosen so cell count tracks the hex cell count), the
  *    head-to-head control
  *  - timed: hexDisk(k=2) candidate join — m = n/1000 planted pairs at
  *    distance < s·√3 (one hex width at the rung's resolution), query
  *    side exploded by its 19-cell disk, equi-join on the cell id.
  *    Planted recall must be m/m at every rung: the pigeonhole
  *    guarantee (SpatialSpec) measured at ladder scale.
  *
  * Writes BENCH/HEX_SCALE.md. Args: [basePoints] [rungs]
  * (defaults 1000000 and "1,10"; pass "1,10,100" for the 100M rung).
  */
object HexScale {

  final case class Rung(n: Long, size: Double, zoom: Int,
      hexSecs: Double, quadSecs: Double,
      hexCells: Long, quadCells: Long, candSecs: Double, cands: Long,
      planted: Long, m: Long, load: String)

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0).toLong else 1000000L
    val mults = (if (args.length > 1) args(1) else "1,10").split(",").map(_.trim.toLong)
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val rungs = scala.collection.mutable.ArrayBuffer[Rung]()

    // warmup (codegen + HOF eval caches), unrecorded
    SpatialScale.points(spark, 10000L)
      .select(Spatial.cellOf(col("px"), col("py"), CellIndex.Hex(10.0)).as("c"))
      .groupBy("c").count().count()

    for (mult <- mults) {
      val n = base * mult
      // resolution tracks density: size ∝ 1/sqrt(mult) → cells ∝ n,
      // occupancy constant (~2600 points/cell at the 1M base)
      val size = 10.0 / math.sqrt(mult.toDouble)
      // quad zoom matched to the hex cell count: 4^z ≈ extent/(2.598 s²)
      val zoom = math.max(2, math.min(12, math.round(
        math.log(1000.0 / math.sqrt(2.598 * size * size)) / math.log(2)).toInt))
      val hex = CellIndex.Hex(size)
      val quad = CellIndex.Quad(zoom, 0, 0, 1000, 1000)
      val pts = SpatialScale.points(spark, n)
      val load = ToolUtil.loadavg()

      val t0 = System.nanoTime()
      val hexCells = pts
        .select(Spatial.cellOf(col("px"), col("py"), hex).as("c"))
        .groupBy("c").count().count()
      val hexSecs = (System.nanoTime() - t0) / 1e9

      val t1 = System.nanoTime()
      val quadCells = pts
        .select(Spatial.cellOf(col("px"), col("py"), quad).as("c"))
        .groupBy("c").count().count()
      val quadSecs = (System.nanoTime() - t1) / 1e9

      // hexDisk kNN candidate join: m planted pairs at distance < s*sqrt(3)
      val m = math.max(1000L, n / 1000L)
      val ax = pmod(xxhash64(col("id"), lit(11)), lit(1000000L)) / 1000.0
      val ay = pmod(xxhash64(col("id"), lit(12)), lit(1000000L)) / 1000.0
      val ang = pmod(xxhash64(col("id"), lit(13)), lit(628L)) / 100.0
      val d = (pmod(xxhash64(col("id"), lit(14)), lit(1000000L)) / 1000000.0) * (size * math.sqrt(3.0))
      val anchors = spark.range(m).select(col("id"), ax.as("ax"), ay.as("ay"),
        (ax + d * cos(ang)).as("bx"), (ay + d * sin(ang)).as("by"))
      // corpus side: the n background points + the m planted partners
      val corpus = pts.select(col("pid"), col("px"), col("py"))
        .unionByName(anchors.select((col("id") + n).as("pid"), col("bx").as("px"), col("by").as("py")))
        .withColumn("_cell", Spatial.cellOf(col("px"), col("py"), hex))
      val queries = anchors.select(col("id"),
        explode(Spatial.hexDisk(
          Spatial.cellOf(col("ax"), col("ay"), hex), 2)).as("_cell"))

      val t2 = System.nanoTime()
      val joined = queries.join(corpus, "_cell").cache()
      val cands = joined.count()
      val candSecs = (System.nanoTime() - t2) / 1e9
      val planted = joined.where(col("pid") === col("id") + n).count()
      joined.unpersist()

      rungs += Rung(n, size, zoom, hexSecs, quadSecs, hexCells, quadCells, candSecs, cands, planted, m, load)
      println(f"[hexscale] n=$n%10d s=$size%6.2f z=$zoom%2d hex=${hexSecs}%7.2fs quad=${quadSecs}%7.2fs " +
        f"cells=$hexCells%,d/$quadCells%,d disk-join=${candSecs}%7.2fs cand=$cands%,d " +
        f"planted=$planted/$m load=$load")
    }

    val sb = new StringBuilder
    sb.append("# HEX_SCALE — hexagonal cell index ladder (tools/HexScale)\n\n")
    sb.append("Hex binning (q72 shape: hexCellOfPoint + groupBy(cell) count) vs quad\n")
    sb.append("binning of the SAME points at matched cell granularity, plus the\n")
    sb.append("hexDisk(k=2) kNN candidate join with m = n/1000 planted partners at\n")
    sb.append("distance < s*sqrt(3) (one hex width — the SpatialSpec pigeonhole\n")
    sb.append("bound). Resolution tracks density (s ∝ 1/sqrt(mult) → cells ∝ points,\n")
    sb.append("occupancy constant), exactly how a production H3 deployment picks its\n")
    sb.append("resolution — at FIXED resolution the disk join is n²/cells (measured:\n")
    sb.append("476M candidates for 10M points at the 1x size before this sizing rule;\n")
    sb.append("same law as DEDUP_SCALE's 16-bit-band cliff, same fix: grow the key\n")
    sb.append("space with the data). Single cold run per rung after one warmup; 1-min\n")
    sb.append("loadavg per rung (shared box). Claims under test: (1) the hex id costs\n")
    sb.append("the same as the quad id — both one codegen'd expression + one shuffle\n")
    sb.append("on a long; (2) the 19-cell disk join stays linear in points at fixed\n")
    sb.append("occupancy, with planted recall m/m.\n\n")
    sb.append("| points | hex size | quad zoom | hex bin (s) | quad bin (s) | hex cells | quad cells | disk join (s) | candidates | cand/query | planted recall | loadavg |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|---|---|---|\n")
    rungs.foreach { r =>
      sb.append(f"| ${r.n}%,d | ${r.size}%.2f | ${r.zoom} | ${r.hexSecs}%.2f | ${r.quadSecs}%.2f | ${r.hexCells}%,d | ${r.quadCells}%,d | ${r.candSecs}%.2f | ${r.cands}%,d | ${r.cands.toDouble / r.m}%.1f | ${r.planted}/${r.m} | ${r.load} |\n")
    }
    sb.append("\ncand/query ≈ 19 x mean cell occupancy (the disk size times points\n")
    sb.append("per cell) — constant across rungs under the density-tracking sizing,\n")
    sb.append("so total disk-join work is linear in points; recall m/m at every\n")
    sb.append("rung is the pigeonhole guarantee holding at ladder scale.\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/HEX_SCALE.md"), sb.toString)
    println("[hexscale] wrote BENCH/HEX_SCALE.md")
    spark.stop()
  }
}
