package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Key/value tile archives in the Berkeley DB btree format — the
  * reference's BSDDBTileStore (reference store/bsddb.py:9-60): keys
  * are `str(tilecoord)` (`"z/x/y"`, or `"z/x/y:+n/+n"` for meta
  * tiles), values are the raw payload bytes. The pure-JVM [[Bsddb]]
  * codec reads and writes the public file format directly — no native
  * library, no JNI.
  *
  * Scale shape is the [[Archives]] one, like [[MBTiles]]: `read`
  * parallelizes over MANY archives, `writeSharded` writes one archive
  * per partition, and `write` is the driver-streamed single-archive
  * interchange path. The parquet tile table remains the corpus-scale
  * format.
  */
object BsddbStore {

  private val KeyRe = """(\d+)/(\d+)/(\d+)(?::\+(\d+)/\+\d+)?""".r

  /** Read every `.db` archive under `path` into the canonical tile
    * relation `(z, x, y, n, data, archive)` — one task per archive. */
  def read(spark: SparkSession, path: String): DataFrame =
    Archives.read(spark, path, "db") { (archive, bytes) =>
      Bsddb.decode(bytes).map { case (k, v) =>
        new String(k, java.nio.charset.StandardCharsets.UTF_8) match {
          case KeyRe(z, x, y, n) =>
            (z.toInt, x.toLong, y.toLong,
              Option(n).map(_.toInt).getOrElse(1), v, archive)
          case other =>
            // fail LOUDLY like MBTiles.read: a foreign key scheme
            // silently dropped would yield a partial relation
            throw new IllegalArgumentException(
              s"$archive: key is not a tilecoord string: $other")
        }
      }
    }.toDF("z", "x", "y", "n", "data", "archive")

  /** `(z, x, y, n, data)`, with `n` = 1 when the relation has none. */
  private def keyed(tiles: DataFrame): DataFrame =
    tiles.select(
      col("z").cast("int"), col("x").cast("long"), col("y").cast("long"),
      (if (tiles.columns.contains("n")) col("n") else lit(1)).cast("int"), col("data"))

  /** The archive's (key, value) pair for one [[keyed]] row. */
  private def pair(r: Row): (Array[Byte], Array[Byte]) = {
    val n = r.getInt(3)
    val key = if (n == 1) s"${r.getInt(0)}/${r.getLong(1)}/${r.getLong(2)}"
      else s"${r.getInt(0)}/${r.getLong(1)}/${r.getLong(2)}:+$n/+$n"
    (key.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Option(r.getAs[Array[Byte]](4)).getOrElse(Array.emptyByteArray))
  }

  /** Write ONE archive from a tile relation `(z, x, y[, n], data)`
    * ([[Archives.writeOne]]). Rows stream through the driver; the
    * archive itself is buffered as pages before the single sequential
    * write (interior pages reference later page numbers), so size is
    * bounded by driver heap — the small-interchange path, same contract
    * as [[MBTiles.write]]. */
  def write(tiles: DataFrame, file: String): Unit = {
    val pairs = keyed(tiles).toLocalIterator().asScala.map(pair).toSeq
    Archives.writeOne(tiles.sparkSession, file)(_.write(Bsddb.encode(pairs)))
  }

  /** DISTRIBUTED export: one `part-NNNNN.db` archive per partition
    * under `dir`, each encoded executor-side ([[Archives.writeSharded]]). */
  def writeSharded(tiles: DataFrame, dir: String): Unit =
    Archives.writeSharded(keyed(tiles), dir, "db") { (it, out) =>
      out.write(Bsddb.encode(it.map(pair).toSeq))
    }
}
