package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sqlite._

/** OGC GeoPackage (`.gpkg`) tile interchange over the same pure-JVM
  * [[Sqlite]] codec as [[MBTiles]] — the second packaged-tile dialect a
  * tiling engine meets in practice (the reference ships only MBTiles,
  * store/mbtiles.py; GeoPackage is its OGC-standardized sibling,
  * public spec at opengeospatial.org/standards/geopackage).
  *
  * Dialect differences handled here, everything else shared with
  * [[MBTiles]]:
  *  - file stamps: `application_id = "GPKG"` (0x47504B47) and a
  *    `user_version` spec stamp in the SQLite header;
  *  - required metadata tables (`gpkg_spatial_ref_sys`,
  *    `gpkg_contents`, `gpkg_tile_matrix_set`, `gpkg_tile_matrix`)
  *    instead of MBTiles' free-form `metadata`;
  *  - `tile_row` is TOP-left origin (XYZ), NOT the TMS flip MBTiles
  *    applies — no y transform;
  *  - the tile table carries an `id INTEGER PRIMARY KEY` (stored as
  *    the SQLite rowid with a NULL record slot, exactly as the real
  *    library serializes rowid-alias columns).
  *
  * `last_change` defaults to a FIXED timestamp so exports are
  * byte-deterministic (reproducible corpus builds); pass the real
  * build time when interop matters more than determinism.
  *
  * Scale shape is the [[Archives]] one, like [[MBTiles]]: `read`
  * parallelizes over many archives and [[writeSharded]] exports one
  * archive per partition.
  */
object GeoPackage {

  val ApplicationId: Long = 0x47504B47L // "GPKG"
  val UserVersion: Long = 10301L // GeoPackage 1.3.1
  private val MercOrigin = 20037508.34 // graft.core.TileGrids.WebMercatorExtent

  /** The four gpkg_* metadata tables (plus their constraint-backing
    * autoindexes) for one tile pyramid table covering zooms
    * [minZ, maxZ] over the full WebMercator extent. */
  private def metaTables(
      tableName: String,
      minZ: Long,
      maxZ: Long,
      lastChange: String): (Seq[Table], Seq[IndexDef]) = {
    // srs_id INTEGER PRIMARY KEY is a rowid alias: rows carry a NULL
    // srs_id slot and live AT rowid -1/0/3857/4326 (ascending — the
    // b-tree key), exactly how the real library serializes them
    val srsRows = Seq(
      // (srs_name, srs_id, organization, org_coordsys_id, definition, description)
      ("Undefined cartesian SRS", -1L, "NONE", -1L, "undefined", "undefined cartesian"),
      ("Undefined geographic SRS", 0L, "NONE", 0L, "undefined", "undefined geographic"),
      ("WGS 84 / Pseudo-Mercator", 3857L, "EPSG", 3857L,
        "PROJCS[\"WGS 84 / Pseudo-Mercator\",GEOGCS[\"WGS 84\"],PROJECTION[\"Mercator_1SP\"]]",
        "WebMercator"),
      ("WGS 84", 4326L, "EPSG", 4326L,
        "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137,298.257223563]]]",
        "WGS 1984 geodetic")).map { case (n, id, org, oid, d, desc) =>
      TableRow(id, encodeRecord(Seq(
        TextValue(n), NullValue, TextValue(org), IntValue(oid),
        TextValue(d), TextValue(desc))))
    }
    val contentsRow = TableRow(1L, encodeRecord(Seq(
      TextValue(tableName), TextValue("tiles"), TextValue(tableName),
      TextValue(""), TextValue(lastChange),
      FloatValue(-MercOrigin), FloatValue(-MercOrigin),
      FloatValue(MercOrigin), FloatValue(MercOrigin), IntValue(3857L))))
    val matrixSetRow = TableRow(1L, encodeRecord(Seq(
      TextValue(tableName), IntValue(3857L),
      FloatValue(-MercOrigin), FloatValue(-MercOrigin),
      FloatValue(MercOrigin), FloatValue(MercOrigin))))
    val matrixRows = (minZ to maxZ).zipWithIndex.map { case (z, i) =>
      val n = 1L << z
      val px = 2.0 * MercOrigin / (n.toDouble * 256.0)
      TableRow(i + 1L, encodeRecord(Seq(
        TextValue(tableName), IntValue(z), IntValue(n), IntValue(n),
        IntValue(256L), IntValue(256L), FloatValue(px), FloatValue(px))))
    }
    // Spec-template DDL including the PRIMARY KEY / UNIQUE constraints,
    // each non-rowid constraint backed by a real sqlite_autoindex
    // b-tree (Sqlite.buildIndex) so integrity_check's index↔table
    // consistency scan passes. Only AUTOINCREMENT is omitted (it would
    // require a sqlite_sequence bookkeeping table; plain INTEGER
    // PRIMARY KEY has identical read semantics).
    val tables = Seq(
      Table("gpkg_spatial_ref_sys",
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, " +
          "srs_id INTEGER NOT NULL PRIMARY KEY, organization TEXT NOT NULL, " +
          "organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, " +
          "description TEXT)",
        srsRows.iterator),
      Table("gpkg_contents",
        "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY KEY, " +
          "data_type TEXT NOT NULL, identifier TEXT UNIQUE, " +
          "description TEXT DEFAULT '', last_change DATETIME NOT NULL, " +
          "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, " +
          "srs_id INTEGER)",
        Iterator.single(contentsRow)),
      Table("gpkg_tile_matrix_set",
        "CREATE TABLE gpkg_tile_matrix_set (table_name TEXT NOT NULL PRIMARY KEY, " +
          "srs_id INTEGER NOT NULL, min_x DOUBLE NOT NULL, min_y DOUBLE NOT NULL, " +
          "max_x DOUBLE NOT NULL, max_y DOUBLE NOT NULL)",
        Iterator.single(matrixSetRow)),
      Table("gpkg_tile_matrix",
        "CREATE TABLE gpkg_tile_matrix (table_name TEXT NOT NULL, " +
          "zoom_level INTEGER NOT NULL, matrix_width INTEGER NOT NULL, " +
          "matrix_height INTEGER NOT NULL, tile_width INTEGER NOT NULL, " +
          "tile_height INTEGER NOT NULL, pixel_x_size DOUBLE NOT NULL, " +
          "pixel_y_size DOUBLE NOT NULL, " +
          "CONSTRAINT pk_ttm PRIMARY KEY (table_name, zoom_level))",
        matrixRows.iterator))
    val indexes = Seq(
      IndexDef("sqlite_autoindex_gpkg_contents_1", "gpkg_contents", None,
        Iterator.single(encodeRecord(Seq(TextValue(tableName), IntValue(1L))))),
      IndexDef("sqlite_autoindex_gpkg_contents_2", "gpkg_contents", None,
        Iterator.single(encodeRecord(Seq(TextValue(tableName), IntValue(1L))))),
      IndexDef("sqlite_autoindex_gpkg_tile_matrix_set_1", "gpkg_tile_matrix_set", None,
        Iterator.single(encodeRecord(Seq(TextValue(tableName), IntValue(1L))))),
      IndexDef("sqlite_autoindex_gpkg_tile_matrix_1", "gpkg_tile_matrix", None,
        (minZ to maxZ).zipWithIndex.iterator.map { case (z, i) =>
          encodeRecord(Seq(TextValue(tableName), IntValue(z), IntValue(i + 1L)))
        }))
    (tables, indexes)
  }

  private def tileTableSql(tableName: String): String =
    s"CREATE TABLE $tableName (id INTEGER PRIMARY KEY, " +
      "zoom_level INTEGER NOT NULL, tile_column INTEGER NOT NULL, " +
      "tile_row INTEGER NOT NULL, tile_data BLOB NOT NULL, " +
      "UNIQUE (zoom_level, tile_column, tile_row))"

  /** Serialize one archive's tables to a byte image (driver- or
    * executor-side; small interchange archives only — the page image
    * buffers in memory, see [[Sqlite.writeDatabase]]). */
  def encode(
      tiles: Iterator[(Long, Long, Long, Array[Byte])],
      tableName: String = "tiles",
      minZ: Long,
      maxZ: Long,
      lastChange: String = "2026-01-01T00:00:00.000Z"): Array[Byte] = {
    var rowid = 0L
    // (z, x, row, rowid) keys buffered while the table b-tree streams;
    // the UNIQUE autoindex re-reads them (keys only, never the blobs),
    // sorted into index key order below — table rows may arrive in any
    // order, the b-tree key ordering constraint is the INDEX's alone.
    val keyBuf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val tileRows = tiles.map { case (z, x, row, data) =>
      rowid += 1
      keyBuf += ((z, x, row, rowid))
      // id INTEGER PRIMARY KEY = rowid alias: NULL record slot
      TableRow(rowid, encodeRecord(Seq(
        NullValue, IntValue(z), IntValue(x), IntValue(row), BlobValue(data))))
    }
    val (meta, metaIdx) = metaTables(tableName, minZ, maxZ, lastChange)
    val bos = new java.io.ByteArrayOutputStream()
    writeDatabase(
      bos,
      meta :+ Table(tableName, tileTableSql(tableName), tileRows),
      ApplicationId, UserVersion,
      metaIdx :+ IndexDef(s"sqlite_autoindex_${tableName}_1", tableName, None,
        deferred(keyBuf.sortBy(k => (k._1, k._2, k._3)).iterator.map {
          case (z, x, row, rid) =>
            encodeRecord(Seq(IntValue(z), IntValue(x), IntValue(row), IntValue(rid)))
        })))
    bos.toByteArray
  }

  /** Parse one archive's tile rows `(z, x, row, data)` — the tile
    * table is located via the archive's own `gpkg_contents`. */
  def decode(bytes: Array[Byte]): Iterator[(Int, Long, Long, Array[Byte])] = {
    val db = new Database(bytes)
    // a multi-layer package must FAIL, not silently return the first
    // layer's rows — the same partial-relation-without-error posture
    // MBTiles.read enforces; route multi-layer packages through an
    // explicit per-layer read when that need arises
    val tileTables = db.rows("gpkg_contents").collect {
      case Seq(TextValue(t), TextValue("tiles"), _*) => t
    }.toSeq
    require(tileTables.nonEmpty, "no tiles entry in gpkg_contents")
    require(tileTables.length == 1,
      s"gpkg has ${tileTables.length} tile layers (${tileTables.mkString(", ")}); " +
        "reading one would silently drop the rest")
    val tableName = tileTables.head
    db.rows(tableName).map {
      // id slot NULL when the writer used the rowid alias, or an
      // explicit integer; either way coordinates follow
      case Seq(NullValue | IntValue(_),
          IntValue(z), IntValue(x), IntValue(row), BlobValue(data)) =>
        (z.toInt, x, row, data)
      case other =>
        throw new IllegalArgumentException(
          s"$tableName row with unexpected types: " +
            other.map(_.getClass.getSimpleName).mkString(", "))
    }
  }

  /** Read every `.gpkg` archive under `path` into the canonical tile
    * relation `(z, x, y, data, archive)` — XYZ y directly (GeoPackage
    * rows are top-left origin), one task per archive. */
  def read(spark: SparkSession, path: String): DataFrame =
    Archives.read(spark, path, "gpkg") { (archive, bytes) =>
      decode(bytes).map { case (z, x, row, data) => (z, x, row, data, archive) }
    }.toDF("z", "x", "y", "data", "archive")

  /** DISTRIBUTED GeoPackage export: one `.gpkg` per partition under
    * `dir`, written executor-side through [[Archives.writeSharded]]. */
  def writeSharded(
      tiles: DataFrame,
      dir: String,
      tableName: String = "tiles",
      lastChange: String = "2026-01-01T00:00:00.000Z"): Unit =
    Archives.writeSharded(
      tiles
        .select(
          col("z").cast("long").as("z"),
          col("x").cast("long").as("x"),
          col("y").cast("long").as("row"),
          col("data"))
        .sortWithinPartitions("z", "x", "row"),
      dir, "gpkg") { (it, out) =>
      // the zoom range must be known before the meta tables; rows are
      // z-sorted, so it is the first and last row's z
      val rows = it.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Array[Byte]](3))).toArray
      out.write(encode(rows.iterator, tableName, rows.head._1, rows.last._1, lastChange))
    }
}
