package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.CellIndex
import graft.engine.Spatial

/** Candidate-volume evidence for the tight polygon covers: for each
  * cell index of q68 (quad zoom 4) and q74 (hex size 62.5), counts
  * (cells in cover) and (point, polygon) join candidates under the bbox
  * cover vs the tight cover, on their spatial scene at n points, plus
  * the exact in-polygon hit count (the occupancy floor no lossless
  * prefilter can beat). Appends nothing; prints. */
object CoverProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 600000L
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val scene = Seq(
      (1L, Seq((100.3, 100.7), (400.1, 80.9), (500.7, 300.3), (300.9, 450.1), (80.3, 300.9))),
      (2L, Seq((550.1, 550.7), (950.3, 550.9), (950.7, 950.1), (790.9, 950.3), (790.1, 710.7), (550.9, 710.1))),
      (3L, Seq((200.7, 50.3), (600.9, 200.1), (250.3, 400.7))))
    val polys = scene.toDF("polygon_id", "vraw")
      .select(col("polygon_id"),
        transform(col("vraw"), v => struct(
          v.getField("_1").as("x"), v.getField("_2").as("y"))).as("vertices"))

    val pts = spark.range(n).select(
      (pmod(col("id") * 7919L, lit(1000L)) + 0.5).cast("double").as("px"),
      (pmod(col("id") * 104729L, lit(1000L)) + 0.5).cast("double").as("py"))

    def stats(label: String, cover: Column, cell: Column): Unit = {
      val g = polys.withColumn("_cell", explode(cover))
      val cells = g.count()
      val p = pts.withColumn("_cell", cell)
      val cands = p.join(g, "_cell").count()
      val hits = p.join(g, "_cell")
        .where(Spatial.pointInPolygon(col("px"), col("py"), col("vertices")))
        .count()
      println(f"[coverprobe] $label%-24s cells=$cells%5d candidates=$cands%9d hits=$hits%9d slack=${cands.toDouble / math.max(hits, 1)}%.2fx")
    }

    println(s"[coverprobe] n=$n points over 1000x1000")
    for (index <- Seq(CellIndex.Quad(4, 0, 0, 1000, 1000), CellIndex.Hex(62.5))) {
      val cell = Spatial.cellOf(col("px"), col("py"), index)
      stats(s"$index bbox", Spatial.bboxCover(col("vertices"), index), cell)
      stats(s"$index tight", Spatial.tightCover(col("vertices"), index), cell)
    }
    spark.stop()
  }
}
