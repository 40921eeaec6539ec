package graft.sources

import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The one read path and the two write paths every single-file tile
  * archive shares ([[MBTiles]], [[GeoPackage]], [[BsddbStore]] and the
  * zip store in [[graft.engine.Stores]]); each store supplies only its
  * codec.
  *
  * One archive is an indivisible unit, so [[read]] parallelizes over
  * MANY archives (binaryFile, one task per file, decoded on the
  * executors) and [[writeSharded]] writes one archive per partition.
  * Every archive is created through the Hadoop FileSystem API, so
  * shards land in the SHARED destination on a multi-node cluster and
  * `file://`, `hdfs://`, `s3a://` and `abfss://` URIs all work — a
  * plain `java.io.File` write would scatter shards over executor-local
  * disks (and would read `file:///x` as the relative path `file:/x`).
  */
object Archives {

  /** Every `*.ext` file under `path` (recursively), each decoded from
    * `(archive path, bytes)` into rows on the executors. */
  def read[T <: Product: TypeTag](spark: SparkSession, path: String, ext: String)(
      decode: (String, Array[Byte]) => IterableOnce[T]): Dataset[T] =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$ext")
      .option("recursiveFileLookup", "true")
      .load(path)
      .select(col("path"), col("content"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .flatMap { case (archive, bytes) => decode(archive, bytes) }(Encoders.product[T])

  /** One `part-NNNNN.ext` archive per non-empty partition of `rows`
    * under `dir`: `encode` streams the partition's rows into the
    * shard's stream, which is closed afterwards. The driver's Hadoop
    * conf travels to the tasks as plain entries (no Spark-internal
    * broadcast classes). */
  def writeSharded(rows: DataFrame, dir: String, ext: String)(
      encode: (Iterator[Row], java.io.OutputStream) => Unit): Unit = {
    val hadoopConf = rows.sparkSession.sparkContext.hadoopConfiguration
    val confEntries: Array[(String, String)] = {
      val it = hadoopConf.iterator()
      val buf = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
      buf.result()
    }
    val dirPath = new Path(dir)
    dirPath.getFileSystem(hadoopConf).mkdirs(dirPath)
    rows.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val shard = new Path(dir, f"part-${TaskContext.getPartitionId()}%05d.$ext")
        val out = shard.getFileSystem(conf).create(shard, true)
        try encode(it, out)
        finally out.close()
      }
    }
  }

  /** Create (or overwrite) the single archive `file` on the driver and
    * hand its stream to `write`; the stream is closed afterwards. */
  def writeOne(spark: SparkSession, file: String)(write: java.io.OutputStream => Unit): Unit = {
    val p = new Path(file)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try write(out)
    finally out.close()
  }
}
