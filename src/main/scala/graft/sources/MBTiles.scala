package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sqlite._

/** Real `.mbtiles` (SQLite) interchange — the reference's primary
  * packaged-tile format (reference store/mbtiles.py:13-137,
  * lib/sqlite3_.py) — with no JDBC or native dependency: the minimal
  * pure-JVM [[Sqlite]] codec reads and writes the public file format
  * directly.
  *
  * Scale shape is the [[Archives]] one: `read` parallelizes over MANY
  * archives, [[writeSharded]] writes one archive per partition, and
  * `write` is the driver-streamed single-file export (the reference's
  * writer is the same serialization point — a lone sqlite connection),
  * with the parquet tile table remaining the scale path for
  * corpus-sized outputs.
  *
  * Coordinates follow the reference exactly: the `tiles.tile_row` is
  * TMS (flipped) unless `tilecoordInTopleft` (mbtiles.py:52-66).
  */
object MBTiles {

  /** Read every `.mbtiles` archive under `path` into the canonical
    * tile relation `(z, x, y, data, archive)` — XYZ y (flip applied),
    * one task per archive. */
  def read(
      spark: SparkSession,
      path: String,
      tilecoordInTopleft: Boolean = false): DataFrame =
    Archives.read(spark, path, "mbtiles") { (archive, bytes) =>
      new Database(bytes).rows("tiles").map {
        case Seq(IntValue(z), IntValue(x), IntValue(row), blob) =>
          val y = if (tilecoordInTopleft) row else (1L << z) - row - 1
          val data = blob match {
            case BlobValue(b) => b
            case NullValue    => null
            case other =>
              throw new IllegalArgumentException(s"tile_data: $other")
          }
          (z.toInt, x, y, data, archive)
        // fail LOUDLY on foreign-typed archives (writers that store
        // coordinates as TEXT/REAL): silently dropping rows would
        // yield a partial relation with no error signal
        case other =>
          throw new IllegalArgumentException(
            s"$archive: tiles row with non-(int,int,int,blob) types: " +
              other.map(_.getClass.getSimpleName).mkString(", "))
      }
    }.toDF("z", "x", "y", "data", "archive")

  /** Metadata table of one archive (reference Metadata dict facade). */
  def readMetadata(bytes: Array[Byte]): Map[String, String] =
    new Database(bytes).rows("metadata").collect {
      case Seq(TextValue(k), TextValue(v)) => k -> v
    }.toMap

  /** `(z, x, row, data)` with `row` the stored tile_row (TMS flip
    * unless `tilecoordInTopleft`). */
  private def storedRows(tiles: DataFrame, tilecoordInTopleft: Boolean): DataFrame = {
    val row =
      if (tilecoordInTopleft) col("y")
      else graft.sql.TileFunctions.pow2(col("z")) - col("y") - 1L
    tiles.select(
      col("z").cast("long").as("z"),
      col("x").cast("long").as("x"),
      row.cast("long").as("row"),
      col("data"))
  }

  private def stored(r: Row): (Long, Long, Long, Array[Byte]) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Array[Byte]](3))

  /** Serialize one archive to `out`: the reference store's exact
    * schema, PRIMARY KEYs backed by real sqlite_autoindex b-trees
    * (store/mbtiles.py:79-90 DDL). `tiles` are `(z, x, row, data)` in
    * (z, x, row) order (sequential rowids = packed b-tree leaves);
    * `metadata` is written as given. The page image is buffered before
    * the single sequential write (see [[Sqlite.writeDatabase]]). */
  private def encode(
      tiles: Iterator[(Long, Long, Long, Array[Byte])],
      metadata: Map[String, String],
      out: java.io.OutputStream): Unit = {
    // ONE (key, rowid) assignment feeds both the metadata rows and the
    // autoindex entries — a second copy could desynchronize index and
    // table
    val meta = metadata.toSeq.sortBy(_._1).zipWithIndex
    var rowid = 0L
    // (z, x, row, rowid) keys buffered while the table b-tree streams —
    // the PK autoindex re-reads them (keys only, never the blobs)
    val keyBuf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val tileRows = tiles.map { case (z, x, row, data) =>
      rowid += 1
      keyBuf += ((z, x, row, rowid))
      TableRow(rowid, encodeRecord(Seq(
        IntValue(z), IntValue(x), IntValue(row),
        Option(data).map(BlobValue).getOrElse(NullValue))))
    }
    writeDatabase(out, Seq(
      Table("metadata",
        "CREATE TABLE metadata (name text, value text, PRIMARY KEY (name))",
        meta.iterator.map { case ((k, v), i) =>
          TableRow(i + 1L, encodeRecord(Seq(TextValue(k), TextValue(v))))
        }),
      Table("tiles",
        "CREATE TABLE tiles (zoom_level integer, tile_column integer, " +
          "tile_row integer, tile_data blob, " +
          "PRIMARY KEY (zoom_level, tile_column, tile_row))",
        tileRows)),
      indexes = Seq(
        IndexDef("sqlite_autoindex_metadata_1", "metadata", None,
          meta.iterator.map { case ((k, _), i) =>
            encodeRecord(Seq(TextValue(k), IntValue(i + 1L)))
          }),
        IndexDef("sqlite_autoindex_tiles_1", "tiles", None,
          deferred(keyBuf.iterator.map { case (z, x, row, rid) =>
            encodeRecord(Seq(IntValue(z), IntValue(x), IntValue(row), IntValue(rid)))
          }))))
  }

  /** DISTRIBUTED mbtiles export: one `part-NNNNN.mbtiles` archive per
    * partition under `dir` ([[Archives.writeSharded]]), each written
    * executor-side — the scale-out form the reference's single sqlite
    * connection cannot express (its writer IS a serialization point).
    * Rows are sorted within partitions so each archive's b-tree packs
    * in rowid order; per-archive metadata carries the partition's own
    * zoom range plus the shared entries. Read the shards back with
    * [[read]] (or `Stores.open("mbtiles://dir")`). */
  def writeSharded(
      tiles: DataFrame,
      dir: String,
      metadata: Map[String, String] = Map.empty,
      tilecoordInTopleft: Boolean = false): Unit =
    Archives.writeSharded(
      storedRows(tiles, tilecoordInTopleft).sortWithinPartitions("z", "x", "row"),
      dir, "mbtiles") { (it, out) =>
      // metadata needs the partition's zoom range first; rows are
      // z-sorted, so it is the first and last row's z
      val rows = it.map(stored).toArray
      encode(rows.iterator, metadata ++ Map(
        "minzoom" -> rows.head._1.toString, "maxzoom" -> rows.last._1.toString), out)
    }

  /** Write one `.mbtiles` archive from a tile relation
    * ([[Archives.writeOne]]). Rows stream through the driver in
    * (z, x, tms_row) order — but the ARCHIVE ITSELF is fully buffered
    * as 4K pages before the single sequential write (the format's
    * interior pages and header reference later page numbers), so a
    * single-archive export is bounded by driver heap. This is the
    * small-interchange path; use [[writeSharded]] for corpus-scale
    * output. `minzoom`/`maxzoom` are derived when absent (reference
    * set_metadata_zooms, mbtiles.py:135-137). */
  def write(
      tiles: DataFrame,
      path: String,
      metadata: Map[String, String] = Map.empty,
      tilecoordInTopleft: Boolean = false): Unit = {
    val zs = tiles.agg(
      min(col("z").cast("long")), max(col("z").cast("long"))).head()
    val fullMeta =
      (if (zs.isNullAt(0)) Map.empty[String, String]
       else Map(
         "minzoom" -> zs.getLong(0).toString,
         "maxzoom" -> zs.getLong(1).toString)) ++ metadata
    val ordered = storedRows(tiles, tilecoordInTopleft).orderBy("z", "x", "row")
    Archives.writeOne(tiles.sparkSession, path) { out =>
      encode(ordered.toLocalIterator().asScala.map(stored), fullMeta, out)
    }
  }
}
