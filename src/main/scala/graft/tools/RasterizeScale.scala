package graft.tools

import org.apache.spark.sql.functions._

import graft.core.CellIndex
import graft.engine.Spatial

/** Scale-ladder evidence for vector→raster tile assignment
  * (engine/Spatial.rasterize): burn m pentagons onto the tile grid at
  * 1x/10x/100x polygon counts, radius and zoom FIXED across rungs
  * (sized for ~100 tiles/polygon at the base rung) so output volume
  * grows with m and the law under test is
  *
  *   wall ∝ output tiles (no join, no shuffle: explode + refine only)
  *
  * Contrast with the point-in-polygon ladder (SPATIAL_SCALE.md), whose
  * cost law is candidate-volume through a shuffle; rasterization has
  * NO shuffle to be the bottleneck — the plan is a single codegen
  * stage over polygon rows, so it scales with cores until the sink
  * saturates. The per-rung checks:
  *
  *  - output ≈ m × pentagonArea/cellArea (the center-sample expected
  *    count; bbox slack never inflates it — the refine is exact)
  *  - planted containment: every polygon's center cell must be burned
  *    (inradius 0.809r ≫ cell/√2 at ~100 cells/polygon, so the cell
  *    holding the center always samples inside)
  *  - plan shape: no Exchange / no Join anywhere
  *
  * Writes BENCH/RASTERIZE_SCALE.md. Args: [baseM] [rungs]
  * (defaults 10000 and "1,10,100").
  */
object RasterizeScale {

  final case class Rung(m: Long, zoom: Int, r: Double, secs: Double,
      tiles: Long, perPoly: Double, planted: Long, load: String)

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0).toLong else 10000L
    val mults = (if (args.length > 1) args(1) else "1,10,100").split(",").map(_.trim.toLong)
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val rungs = scala.collection.mutable.ArrayBuffer[Rung]()

    // warmup (codegen + HOF eval caches), unrecorded
    Spatial.rasterize(SpatialScale.polygons(spark, 100L, 20.0)._1, 6, 0, 0, 1000, 1000).count()

    // radius and zoom FIXED across rungs (sized at the base rung for
    // ~100 tiles/polygon): every rung does identical per-polygon work,
    // so the output-volume law is isolated from zoom effects. Polygons
    // overlap at the upper rungs — irrelevant by construction, since
    // the burn is per-polygon independent (no join to blow up).
    val r = math.sqrt(50000.0 / (math.Pi * base))
    val cell = r * math.sqrt(2.378 / 100.0)
    val zoom = math.max(2, math.min(20, math.round(math.log(1000.0 / cell) / math.log(2)).toInt))
    var planShown = false
    for (mult <- mults) {
      val m = base * mult
      val (polys, _) = SpatialScale.polygons(spark, m, r)

      val burned = Spatial.rasterize(polys, zoom, 0, 0, 1000, 1000)
      if (!planShown) {
        val plan = burned.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange") && !plan.contains("Join"),
          s"rasterize must be shuffle- and join-free, got:\n$plan")
        planShown = true
      }
      val load = ToolUtil.loadavg()
      val t0 = System.nanoTime()
      val tiles = burned.count()
      val secs = (System.nanoTime() - t0) / 1e9

      // untimed: every polygon's center cell is burned
      val n = 1L << zoom
      val planted = Spatial.rasterize(polys, zoom, 0, 0, 1000, 1000)
        .join(
          SpatialScale.polygons(spark, m, r)._2.select(
            col("pid").as("polygon_id"),
            Spatial.cellOf(col("px"), col("py"), CellIndex.Quad(zoom, 0, 0, 1000, 1000)).as("_c")),
          Seq("polygon_id"))
        .where(col("cy") * n + col("cx") === col("_c"))
        .count()

      rungs += Rung(m, zoom, r, secs, tiles, tiles.toDouble / m, planted, load)
      println(f"[rasterizescale] m=$m%8d z=$zoom%2d r=$r%7.3f ${secs}%8.2fs tiles=$tiles%12d per-poly=${tiles.toDouble / m}%6.1f planted=$planted/$m load=$load")
      require(planted == m, s"every polygon's center cell must be burned: $planted/$m")
    }

    val sb = new StringBuilder
    sb.append("# RASTERIZE_SCALE — vector→raster burn ladder (tools/RasterizeScale)\n\n")
    sb.append("Spatial.rasterize (q70 shape): m pentagons burned onto the tile grid\n")
    sb.append("under the center-sample rule; radius and zoom fixed across rungs\n")
    sb.append("(~100 tiles/polygon), so output volume grows with polygon count and\n")
    sb.append("overlap at the upper rungs is irrelevant (the burn is per-polygon\n")
    sb.append("independent — no join to blow up).\n")
    sb.append("Single cold run per rung after one warmup. The law under test:\n")
    sb.append("wall ∝ output tiles — the plan is asserted shuffle- and join-free\n")
    sb.append("(one codegen stage: tight-cover kernel explode + exact ray-cast\n")
    sb.append("refine), so unlike the join ladder there is no exchange to bottleneck;\n")
    sb.append("throughput scales with cores until the sink saturates. 1-min loadavg\n")
    sb.append("per rung (shared box; treat walls as ±30%).\n\n")
    sb.append("| polygons | zoom | r | wall (s) | tiles burned | tiles/polygon | tiles/s | planted center cells | loadavg |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|\n")
    rungs.foreach { r =>
      sb.append(f"| ${r.m}%,d | ${r.zoom} | ${r.r}%.2f | ${r.secs}%.2f | ${r.tiles}%,d | ${r.perPoly}%.1f | ${(r.tiles / r.secs).toLong}%,d | ${r.planted}/${r.m} | ${r.load} |\n")
    }
    sb.append("\nReading it:\n\n")
    sb.append("- tiles/polygon is CONSTANT across rungs (zoom rounding sets the\n")
    sb.append("  exact value vs the ~100 target; the refine is exact — the tight\n")
    sb.append("  cover's residual slack never inflates the output).\n")
    sb.append("- planted m/m = the center cell of every polygon is burned at every\n")
    sb.append("  scale (no cell lost to boundary handling).\n")
    sb.append("- wall tracks output volume, not polygon count x grid size: the\n")
    sb.append("  oracle-side full enumeration (q70) is 4^zoom x m tests, infeasible\n")
    sb.append("  past toy scale; the tight-cover explode keeps burn cost proportional to\n")
    sb.append("  polygon area — which IS the output size for a filled polygon.\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/RASTERIZE_SCALE.md"), sb.toString)
    println("[rasterizescale] wrote BENCH/RASTERIZE_SCALE.md")
    spark.stop()
  }
}
