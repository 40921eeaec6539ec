package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TileCoord, TileLayout}
import graft.sql.TileFunctions

/** Source/sink adapters — the reference's TileStore zoo re-expressed as
  * DataFrame readers/writers (reference store/ dir; the URL-scheme
  * registry __init__.py:701-807 becomes these constructors).
  */
object Stores {

  /** URL-scheme store registry — the reference's `TileStore.load`
    * (tilecloud/__init__.py:701-807) as a reader dispatcher:
    *   tiles://<path>     canonical tile table (parquet, z-partitioned)
    *   file://<dir>       filesystem tile tree (binaryFile + layout)
    *   log://<path>       coord log lines
    *   zip://<dir>        zip archives of layout-named tiles
    *   mbtiles://<dir>    real .mbtiles (SQLite) archives
    *   gpkg://<dir>       OGC GeoPackage archives (*.gpkg)
    *   bsddb://<dir>      Berkeley DB btree archives (*.db)
    *   pyramid://<spec>   generator relation from a pyramid spec string
    *   null://            empty tile relation
    * (s3a:// and abfss:// paths flow through the same file-based
    * readers when the corresponding Hadoop connectors are deployed.) */
  def open(spark: SparkSession, uri: String): DataFrame = {
    val idx = uri.indexOf("://")
    require(idx > 0, s"store uri needs a scheme: $uri")
    val (scheme, rest) = (uri.substring(0, idx), uri.substring(idx + 3))
    scheme match {
      case "tiles"   => TileTable.read(spark, rest)
      case "file"    => readFilesystem(spark, rest)
      case "log"     => readLog(spark, rest)
      case "zip"     => readZip(spark, rest)
      case "mbtiles" => graft.sources.MBTiles.read(spark, rest)
      case "gpkg"    => graft.sources.GeoPackage.read(spark, rest)
      case "bsddb"   => graft.sources.BsddbStore.read(spark, rest)
      case "pyramid" =>
        graft.sql.TileFunctions.enumeratePyramid(
          spark, graft.core.BoundingPyramid.fromString(rest))
      case "null" =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("z", org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("y", org.apache.spark.sql.types.LongType))))
      case other => throw new IllegalArgumentException(s"unknown store scheme: $other")
    }
  }

  /** FilesystemTileStore (reference store/filesystem.py:13-78): read a
    * directory of tile files via the binaryFile source, parsing coords
    * out of the relative path with the layout's regex as a column
    * expression (os.walk + layout.tilecoord made distributed). Returns
    * the canonical tile columns. */
  def readFilesystem(
      spark: SparkSession,
      root: String,
      pathRegex: String = """(\d+)/(\d+)/(\d+)(?:\.\w+)?$"""): DataFrame =
    spark.read
      .format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(
        regexp_extract(col("path"), pathRegex, 1).cast("int").as("z"),
        regexp_extract(col("path"), pathRegex, 2).cast("long").as("x"),
        regexp_extract(col("path"), pathRegex, 3).cast("long").as("y"),
        col("content").as("data"),
        col("path"))
      .where(length(regexp_extract(col("path"), pathRegex, 0)) > 0)

  /** Filesystem sink: one file per tile under `z/x/y.<ext>`. Distributed
    * via foreachPartition (each task writes its own files; the layout
    * path is the partition key discipline). */
  def writeFilesystem(tiles: DataFrame, root: String, ext: String = "png"): Unit = {
    val cols = tiles.select("z", "x", "y", "data")
    cols.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.foreach { r =>
        val dir = java.nio.file.Paths.get(root, r.getInt(0).toString, r.getLong(1).toString)
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(
          dir.resolve(s"${r.getLong(2)}.$ext"),
          r.getAs[Array[Byte]]("data"))
      }
    }
  }

  /** LogTileStore source (reference store/log.py:9-21): parse coords
    * from text lines. */
  def readLog(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(
        regexp_extract(col("value"), """(\d+)/(\d+)/(\d+)""", 1).cast("int").as("z"),
        regexp_extract(col("value"), """(\d+)/(\d+)/(\d+)""", 2).cast("long").as("x"),
        regexp_extract(col("value"), """(\d+)/(\d+)/(\d+)""", 3).cast("long").as("y"))
      .where(col("value").rlike("""\d+/\d+/\d+"""))

  /** LogTileStore sink (reference store/log.py:29-34): write layout
    * paths as text lines. */
  def writeLog(tiles: DataFrame, path: String): Unit =
    tiles
      .select(TileFunctions.osmPath(col("z"), col("x"), col("y")).as("value"))
      .write.mode("overwrite").text(path)

  /** DictTileStore (reference store/dict.py): in-memory tile table for
    * tests/composition — a local Seq of TileRow as a DataFrame. */
  def dict(spark: SparkSession, tiles: Seq[TileRow]): DataFrame = {
    import spark.implicits._
    tiles.toDS().toDF()
  }

  /** NullTileStore (reference store/null.py): the noop sink. */
  def writeNull(tiles: DataFrame): Unit =
    tiles.write.format("noop").mode("overwrite").save()

  /** Queue message codec (reference store/queue.py:8-31): tile <->
    * base64(JSON{z,x,y,n,metadata}) — the wire format of the queue
    * stores, as column expressions. */
  def encodeQueueMessage(z: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
      metadata: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    base64(to_json(struct(
      z.as("z"), x.as("x"), y.as("y"), n.as("n"), metadata.as("metadata"))).cast("binary"))

  def decodeQueueMessage(msg: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    from_json(
      unbase64(msg).cast("string"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("z", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("y", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("metadata",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))))

  /** MaskTileStore (reference store/mask.py:17-73): presence bitmap at
    * one zoom — the set of (x, y) cells having tiles, as a bitmap row
    * per y with a packed bit per x within bounds. Returned as
    * (y, bits BINARY) rows; `fromMask` inverts. */
  def toMask(tiles: DataFrame, z: Int, xStart: Long, width: Int): DataFrame =
    tiles
      .where(col("z") === z)
      .select(col("y"), ((col("x") - xStart)).as("bit"))
      .where(col("bit") >= 0 && col("bit") < width)
      .groupBy("y")
      .agg(collect_set("bit").as("bits"))

  def fromMask(mask: DataFrame, z: Int, xStart: Long): DataFrame =
    mask
      .select(col("y"), explode(col("bits")).as("bit"))
      .select(lit(z).as("z"), (col("bit") + xStart).as("x"), col("y"))

  /** FindFirstTileStore (reference store/findfirst.py:7-21): first
    * non-null payload across prioritized stores — left joins in
    * priority order + coalesce. */
  def findFirst(coords: DataFrame, stores: Seq[DataFrame]): DataFrame = {
    val joined = stores.zipWithIndex.foldLeft(coords) { case (acc, (s, i)) =>
      acc.join(
        s.select(col("z"), col("x"), col("y"), col("data").as(s"__d$i")),
        Seq("z", "x", "y"),
        "left")
    }
    joined
      .withColumn("data", coalesce(stores.indices.map(i => col(s"__d$i")): _*))
      .drop(stores.indices.map(i => s"__d$i"): _*)
      .where(col("data").isNotNull)
  }

  /** SearchUpTileStore (reference store/searchup.py:4-33): walk the
    * parent chain until a store hit; returns the requested coord with
    * the nearest ancestor's payload. Quad-grid form: the ancestor at
    * distance d is a shiftR, no grid table needed. */
  def searchUp(coords: DataFrame, store: DataFrame, maxZ: Int): DataFrame =
    nearestAncestorHit(
      coords.withColumn(
        "__anc",
        explode(transform(
          sequence(lit(0), least(col("z"), lit(maxZ))),
          d => struct(
            d.as("d"),
            (col("z") - d).cast("int").as("az"),
            TileFunctions.shiftR(col("x"), d).as("ax"),
            TileFunctions.shiftR(col("y"), d).as("ay"))))),
      store)

  /** SearchUp over an arbitrary grid (reference store/searchup.py walks
    * `grid.parent` — any z hierarchy, not just quad): the per-z ancestor
    * chain (which shallower z, and the cumulative integer coordinate
    * divisor) is computed driver-side from the grid's parent relation
    * and broadcast; coordinates never enumerate the chain per row. */
  def searchUp(
      coords: DataFrame,
      store: DataFrame,
      grid: graft.core.FreeTileGrid): DataFrame = {
    val spark = coords.sparkSession
    import spark.implicits._
    val chains = grid.resolutions.indices.flatMap { z =>
      // walk parent zs, accumulating the coordinate divisor (integer by
      // the grid's divisibility contract: res(parent) % res(child) == 0)
      val steps = Iterator.iterate(Option((z, 1L))) {
        case Some((cz, f)) =>
          grid.parentZs(cz).map(pz =>
            (pz, f * math.round(grid.resolutions(pz) / grid.resolutions(cz))))
        case None => None
      }.takeWhile(_.isDefined).flatten.toSeq
      steps.zipWithIndex.map { case ((az, f), d) => (z, d, az, f) }
    }
    val anc = broadcast(chains.toDF("z", "d", "az", "factor"))
    nearestAncestorHit(
      coords
        .join(anc, "z")
        .withColumn(
          "__anc",
          struct(
            col("d"), col("az"),
            TileFunctions.intDiv(col("x"), col("factor")).as("ax"),
            TileFunctions.intDiv(col("y"), col("factor")).as("ay")))
        .drop("d", "az", "factor"),
      store)
  }

  /** Shared tail of the searchUp variants: join exploded ancestor
    * candidates against the store, keep the nearest (min d) hit. */
  private def nearestAncestorHit(withAncestors: DataFrame, store: DataFrame): DataFrame = {
    val hits = withAncestors
      .select(
        col("z"), col("x"), col("y"),
        col("__anc.d").as("d"), col("__anc.az").as("az"),
        col("__anc.ax").as("ax"), col("__anc.ay").as("ay"))
      .join(
        store.select(
          col("z").cast("int").as("az"), col("x").as("ax"), col("y").as("ay"),
          col("data").as("anc_data")),
        Seq("az", "ax", "ay"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("z", "x", "y").orderBy("d")
    hits
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("z"), col("x"), col("y"), col("anc_data").as("data"), col("d"))
  }

  private val ZipEntryRegex =
    """(?:.*/)?(\d+)/(\d+)/(\d+)(\.\w+)?$""".r

  /** ZipTileStore source (reference store/zip.py:14-63): each archive is
    * an indivisible unit, so binaryFile yields one row per .zip and the
    * entries explode on executors — parallelism scales with the number
    * of archives (the natural sharding for zip-packaged tile corpora).
    * Per archive, the layout is auto-detected by extension histogram
    * exactly like the reference (most frequent `.png`/`.jpe?g` wins,
    * zip.py:20-31); entries that don't parse as `z/x/y[.ext]` are
    * dropped (reference list() swallows ValueError, zip.py:57-62). */
  def readZip(spark: SparkSession, path: String): DataFrame =
    graft.sources.Archives.read(spark, path, "zip") { (archivePath, bytes) =>
      val entries = zipEntries(bytes)
      val extCounts = entries
        .groupBy(e => extensionOf(e._1)).view.mapValues(_.size).toMap
      val preferredExt = extCounts.toSeq
        .sortBy { case (ext, cnt) => (-cnt, ext) }
        .collectFirst {
          case (ext, _) if ext.matches("""(?i)\.(jpe?g|png)""") => ext
        }
      val ct = preferredExt.map {
        case e if e.toLowerCase.startsWith(".j") => "image/jpeg"
        case _                                   => "image/png"
      }.orNull
      entries.flatMap { case (name, data) =>
        name match {
          case ZipEntryRegex(z, x, y, _) =>
            Some((z.toInt, x.toLong, y.toLong, data, ct, archivePath, name))
          case _ => None
        }
      }
    }.toDF("z", "x", "y", "data", "content_type", "archive", "entry")

  /** ZipTileStore sink (reference store/zip.py:65-76 put_one): the
    * distributed analogue writes one archive per partition
    * ([[graft.sources.Archives.writeSharded]]; the reference appends to
    * a single driver-local zip — a serialization point that cannot
    * scale), entries named by the OSM layout. */
  def writeZip(tiles: DataFrame, dir: String, ext: String = "png"): Unit =
    graft.sources.Archives.writeSharded(tiles.select("z", "x", "y", "data"), dir, "zip") {
      (it, shard) =>
        // stream rows straight into the archive — it.toSeq would buffer
        // the partition's every tile payload on the heap first, and a
        // z-partitioned blob partition is GBs at scale
        val out = new java.util.zip.ZipOutputStream(shard)
        it.foreach { r =>
          out.putNextEntry(new java.util.zip.ZipEntry(
            s"${r.getInt(0)}/${r.getLong(1)}/${r.getLong(2)}.$ext"))
          out.write(r.getAs[Array[Byte]]("data"))
          out.closeEntry()
        }
        out.finish() // the shard stream itself is closed by the caller
    }

  private def extensionOf(name: String): String = {
    val i = name.lastIndexOf('.')
    if (i < 0) "" else name.substring(i)
  }

  private def zipEntries(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) buf += ((e.getName, zin.readAllBytes()))
      e = zin.getNextEntry
    }
    zin.close()
    buf.toSeq
  }

  /** Parsed TileJSON document (reference store/tilejson.py:19-71):
    * template layouts from the `tiles` URLs, bounding pyramid from
    * `bounds`+`minzoom`/`maxzoom` (full pyramid when absent), content
    * type inferred from the URL extensions, well-known keys carried as
    * metadata. */
  final case class TileJsonConfig(
      layouts: Seq[graft.core.TemplateTileLayout],
      boundingPyramid: graft.core.BoundingPyramid,
      contentType: Option[String],
      metadata: Map[String, String])

  /** TileJSONTileStore config parse — driver-side, like the reference's
    * ctor (tilejson.py:32-66). The `{x}`/`{y}`/`{z}` URL placeholders
    * become template layouts; WGS84 `bounds` corners project into the
    * grid's WebMercator extent before the per-zoom fill. */
  def tileJson(json: String): TileJsonConfig = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val doc = JsonMethods.parse(json)
    val urls = (doc \ "tiles").extract[List[String]]
    require(urls.nonEmpty, "TileJSON needs a non-empty tiles list")
    val layouts = urls.map { u =>
      graft.core.TemplateTileLayout(
        u.replace("{z}", "%(z)d").replace("{x}", "%(x)d").replace("{y}", "%(y)d"))
    }
    val zmin = (doc \ "minzoom").extractOpt[Int].getOrElse(0)
    val zmax = (doc \ "maxzoom").extractOpt[Int].getOrElse(22)
    val bp = (doc \ "bounds").extractOpt[List[Double]] match {
      case Some(List(lonMin, latMin, lonMax, latMax)) =>
        def mercX(lon: Double) = lon / 180.0 * 20037508.342789244
        def mercY(lat: Double) =
          math.log(math.tan((90.0 + lat) * math.Pi / 360.0)) / math.Pi *
            20037508.342789244
        graft.core.BoundingPyramid.empty.fill(
          zmin to zmax,
          graft.core.Extent(
            mercX(lonMin), mercY(latMin), mercX(lonMax), mercY(latMax)))
      case _ => graft.core.BoundingPyramid.full(zmin, zmax)
    }
    val ct = urls.map(u => extensionOf(u.takeWhile(c => c != '?' && c != '#')))
      .distinct match {
      case Seq(e) if e.matches("""(?i)\.jpe?g""") => Some("image/jpeg")
      case Seq(".png")                            => Some("image/png")
      case Seq(".pbf") | Seq(".mvt")              => Some("application/x-protobuf")
      case _                                      => None
    }
    val meta = Seq(
      "name", "description", "version", "attribution", "template", "legend")
      .flatMap(k => (doc \ k).extractOpt[String].map(k -> _))
      .toMap
    TileJsonConfig(layouts, bp, ct, meta)
  }
}
