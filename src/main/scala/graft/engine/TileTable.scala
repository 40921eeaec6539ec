package graft.engine

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.{Bounds, BoundingPyramid}
import graft.sql.{Jobs, TileFunctions}

/** The engine's canonical tile table — MBTiles-parity schema
  * `(z INT, x BIGINT, y BIGINT, n INT, data BINARY, content_type STRING,
  * content_encoding STRING, error STRING, metadata MAP<STRING,STRING>)`
  * stored as parquet partitioned by z and Z-order-sorted by cell id
  * within partitions, so min/max row-group stats prune x/y ranges
  * (reference store/mbtiles.py:13-137; Iceberg runtime is not present in
  * this sandbox, parquet + layout discipline replaces it).
  */
object TileTable {

  /** Write (append or overwrite). Sorting by the interleaved cell id
    * keeps spatially-close tiles in the same row groups — the layout
    * discipline that makes pyramid-region scans prune at 100 TB.
    *
    * Write-path economics (897k tiles / 9.9 GB payload,
    * 16 cores):
    *  - `data` is PNG/JPEG — already entropy-coded, so the session's
    *    default parquet codec burned ~2/3 of the write wall time
    *    (57 s -> 22 s) to shave 0.2% of bytes. Media tables default to
    *    `uncompressed`, the same call the corpus table makes; pass a
    *    codec for compressible payloads (vector/JSON tiles).
    *  - the sort leads with `z` so the dynamic-partition writer can see
    *    its required ordering is already satisfied: `Project` trims the
    *    child's (z, cell) output ordering to [z] (the dropped cell key
    *    falls off the prefix), which matches the writer's required
    *    ordering, so the writer's own sort is elided — the payload is
    *    sorted ONCE, and each task streams partition files sequentially
    *    with a SINGLE open writer / one row-group buffer of heap. Do
    *    NOT reach for `spark.sql.maxConcurrentOutputFileWriters` here:
    *    concurrent mode holds every started partition's parquet writer
    *    open until task end (tasks x z-levels x ~128 MB row-group
    *    buffers — measured OOM at 16 tasks on an 8 GB heap), exactly
    *    the failure a 1000-executor dynamic-partition write hits. */
  def write(
      df: DataFrame,
      path: String,
      mode: String = "append",
      codec: String = "uncompressed"): Unit =
    df.withColumn("cell", TileFunctions.cellId(col("z"), col("x"), col("y")))
      .sortWithinPartitions(col("z"), col("cell"))
      .drop("cell")
      .write
      .mode(mode)
      .option("compression", codec)
      .partitionBy("z")
      .parquet(path)

  /** Read a tile table without a schema-inference job: the data schema
    * comes from one file footer, read on the driver (the schema Spark
    * recorded under `org.apache.spark.sql.parquet.row.metadata`, the
    * same key its own inference reads), `z` from the directory layout.
    * Footers without that key fall back to `spark.read.parquet`. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(s: FileStatus) = Seq("_", ".").exists(s.getPath.getName.startsWith)
    // depth-first to the first data file: z=<n>/part-*.parquet
    def firstFile(dir: Path): Option[FileStatus] = {
      val (dirs, files) = fs.listStatus(dir).filterNot(hidden).partition(_.isDirectory)
      files.find(_.getLen > 0).orElse(dirs.iterator.map(d => firstFile(d.getPath)).collectFirst {
        case Some(f) => f
      })
    }
    if (!fs.exists(root)) None
    else firstFile(root).flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }.map(json => DataType.fromJson(json).asInstanceOf[StructType])
  }

  /** The zooms a tile table holds: its `z=<n>` directories (none when
    * the table does not exist). */
  private[engine] def zooms(spark: SparkSession, path: String): Seq[Int] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName).collect {
      case s"z=$n" if n.nonEmpty && n.forall(_.isDigit) => n.toInt
    }
  }

  /** Bucketed variant (managed table): hash-bucketed and sorted by
    * (x, y) inside each z partition. Two tables written with the same
    * bucket count co-locate matching coords, so coord equi-joins
    * (merge/diff/resume between tile generations at 100 TB) need NO
    * exchange on either side — the parquet/metastore stand-in for
    * Iceberg's bucket write-distribution in this sandbox. When joining
    * on (z, x, y), set `spark.sql.requireAllClusterKeysForCoPartition`
    * to false (bucket keys are a subset of the join keys — subset
    * co-partitioning is correct, Spark just gates it conservatively),
    * or join on the bucket keys alone within a z partition. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      buckets: Int = 64,
      mode: String = "overwrite",
      codec: String = "uncompressed"): Unit =
    df.write
      .mode(mode)
      .partitionBy("z")
      .bucketBy(buckets, "x", "y")
      .sortBy("x", "y")
      .option("compression", codec)
      .format("parquet")
      .saveAsTable(table)

  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Cheap bounding pyramid: per-z min/max aggregate over coords only —
    * column pruning means only (z,x,y) are read, never the blobs
    * (reference store/mbtiles.py:109-116 SQL pushdown). */
  def cheapBoundingPyramid(df: DataFrame): BoundingPyramid = {
    val rows = df
      .groupBy("z")
      .agg(min("x").as("x0"), max("x").as("x1"), min("y").as("y0"), max("y").as("y1"))
      .collect()
    rows.foldLeft(BoundingPyramid.empty) { (bp, r) =>
      bp.addBounds(
        r.getInt(0),
        (Bounds(r.getLong(1), r.getLong(2) + 1), Bounds(r.getLong(3), r.getLong(4) + 1)))
    }
  }

  /** TMS view: the MBTiles y-flip `(1<<z)-y-1`
    * (reference store/mbtiles.py:50-65). */
  def tmsView(df: DataFrame): DataFrame =
    df.withColumn("y", TileFunctions.tmsY(col("z"), col("y")))

  /** Per-z tile counts (reference scripts/tc_mbtiles_info.py). */
  def info(df: DataFrame): DataFrame =
    df.groupBy("z").agg(count(lit(1)).as("tiles")).orderBy("z")

  /** MBTiles-parity metadata k/v side table (reference
    * store/mbtiles.py:16-24); `withZoomRange` mirrors
    * set_metadata_zooms (mbtiles.py:134-137). */
  def writeMetadata(
      spark: SparkSession,
      path: String,
      entries: Map[String, String]): Unit = {
    import spark.implicits._
    entries.toSeq.toDF("name", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_metadata_kv")
  }

  def readMetadata(spark: SparkSession, path: String): Map[String, String] =
    spark.read.parquet(s"$path/_metadata_kv")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  def zoomMetadata(df: DataFrame): Map[String, String] = {
    val r = df.agg(min("z"), max("z")).collect()(0)
    Map("minzoom" -> r.getInt(0).toString, "maxzoom" -> r.getInt(1).toString)
  }

  /** Delete pipeline (reference scripts/tc_delete.py:13-35): remove the
    * tiles of a region from the table. Without a transactional format
    * in this sandbox this is read -> anti-filter -> atomic swap at the
    * z-partition granularity (only affected partitions rewrite). */
  def deleteRegion(
      spark: SparkSession,
      path: String,
      bp: graft.core.BoundingPyramid): Unit = Jobs.described(spark, "TileTable.deleteRegion") {
    val affected = bp.zs.toSeq
    val current = read(spark, path)
    // localCheckpoint severs lineage from the source files: the dynamic
    // overwrite below invalidates path caches and deletes the very
    // files a plain cached plan would re-read
    val kept = current
      .where(col("z").isin(affected: _*))
      .where(!TileFunctions.inPyramid(bp, col("z"), col("x"), col("y")))
      .localCheckpoint(true)
    kept.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("z")
      .parquet(path)
    // partitions whose every row was deleted are not rewritten by the
    // dynamic overwrite above — drop them explicitly
    val emptied = affected.toSet --
      kept.select("z").distinct().collect().map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { z =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/z=$z"), true)
    }
    kept.unpersist()
  }
}
