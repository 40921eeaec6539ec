package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.BoundingPyramid
import graft.engine.{Checkpoint, Filters, Pipeline, TileTable}

/** Phase decomposition of `Pipeline.copyJob` for the scaling ladder:
  * times each stage with a consuming action so the non-scaling
  * component can be attributed (coordinate math vs byte attach vs
  * image re-encode vs parquet sink). Run at N and 4N cores like the
  * copy legs; each phase's action subsumes the previous phases'
  * work (Spark has no free materialization boundary), so the
  * per-stage cost is the DELTA between consecutive rows. The pipeline
  * is rebuilt through `Checkpoint.resume`, the uncounted resume join
  * (`copyJob` puts a counting node on the sink scan); over the absent
  * sink the two are the same plan.
  */
object CopyProfile {

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0).toInt else 16
    val rows = if (args.length > 1) args(1).toLong else 800000L
    val zMin = 4
    val zMax = 10

    val base = s"/tmp/graft_copyprofile_$cpus"
    ToolUtil.deleteRec(base)
    Files.createDirectories(Paths.get(base))

    val spark = graft.Bench.mkSession(cpus)
    val corpus = graft.Bench.bucketedCorpus(spark, rows)
    corpus.count()

    val bp = BoundingPyramid.full(zMin, zMax)
    def winners = Checkpoint.resume(
      Pipeline.tileWinners(corpus, bp.zs.toSeq, region = Some(bp)), s"$base/sink")
    def joined = Pipeline.attachBytes(corpus, winners)
    def converted = Filters.formatConverter("image/png")(joined)

    def t(tag: String)(act: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = act
      println(f"[profile:$cpus] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($r)")
      // each write variant leaves ~9.3 GB; keep only one sink on disk
      // at a time or four variants fill the disk (measured ENOSPC)
      Seq("sink_w2", "sink_w3", "sink_w4").foreach(s =>
        ToolUtil.deleteRec(s"$base/$s"))
    }

    t("coords(winners+anti)") { winners.count() }
    t("attach(no convert)") {
      joined.agg(sum(length(col("data")))).head().getLong(0)
    }
    t("convert(no write)") {
      converted.agg(sum(length(col("data")))).head().getLong(0)
    }
    t("full(write sink)") {
      TileTable.write(converted, s"$base/sink")
      TileTable.read(spark, s"$base/sink").count()
    }
    // variants: isolate the writer-added z-sort and parquet codec cost
    t("w2: no app sort") {
      converted.write.mode("overwrite").partitionBy("z")
        .parquet(s"$base/sink_w2")
      spark.read.parquet(s"$base/sink_w2").count()
    }
    t("w3: sort(z,cell) kept") {
      converted
        .withColumn("cell",
          graft.sql.TileFunctions.cellId(col("z"), col("x"), col("y")))
        .sortWithinPartitions(col("z"), col("cell"))
        .drop("cell")
        .write.mode("overwrite").partitionBy("z")
        .parquet(s"$base/sink_w3")
      spark.read.parquet(s"$base/sink_w3").count()
    }
    t("w4: w3+uncompressed") {
      converted
        .withColumn("cell",
          graft.sql.TileFunctions.cellId(col("z"), col("x"), col("y")))
        .sortWithinPartitions(col("z"), col("cell"))
        .drop("cell")
        .write.mode("overwrite").partitionBy("z")
        .option("compression", "uncompressed")
        .parquet(s"$base/sink_w4")
      spark.read.parquet(s"$base/sink_w4").count()
    }
    spark.stop()
  }
}
