package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.image.ImageCodec

/** The reference's transformation/filter chain re-expressed as DataFrame
  * transforms over the error-as-data channel (reference filter/ dir). Use
  * with `.transform(...)` chaining — the Spark analogue of
  * FilteredTileStore's reduce composition (store/filtered.py:21-25).
  */
object Filters {

  /** Drop errored/empty tiles (reference filter/error.py:19-25). */
  def dropErrors(df: DataFrame): DataFrame =
    df.where(col("error").isNull)

  /** RateLimit (reference filter/rate.py:6-23): cap rows/second by
    * sleeping, exactly the reference's schedule (first row free, row k
    * released no earlier than start + k/rate) made PARTITION-LOCAL —
    * the only meaningful scope for wall-clock state in a distributed
    * job. With P concurrently-running partitions the aggregate ceiling
    * is P * perPartitionHz; size accordingly (or cap source ingestion
    * with maxFilesPerTrigger, the usual batch/streaming knob — this
    * operator exists for sink-protection parity with the reference). */
  def rateLimit(df: DataFrame, perPartitionHz: Double): DataFrame = {
    require(perPartitionHz > 0, s"rate must be positive: $perPartitionHz")
    val schema = df.schema
    df.mapPartitions { it =>
      new Iterator[org.apache.spark.sql.Row] {
        private var start = -1L
        private var count = 0L
        def hasNext: Boolean = it.hasNext
        def next(): org.apache.spark.sql.Row = {
          if (start < 0) start = System.nanoTime()
          else {
            count += 1
            val releaseAt = start + (count * 1e9 / perPartitionHz).toLong
            val waitNanos = releaseAt - System.nanoTime()
            if (waitNanos > 0)
              Thread.sleep(waitNanos / 1000000L, (waitNanos % 1000000L).toInt)
          }
          it.next()
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Side-collect errored tiles (reference filter/error.py:7-16): the
    * stream splits instead of mutating driver state. */
  def collectErrors(df: DataFrame): (DataFrame, DataFrame) =
    (df.where(col("error").isNull), df.where(col("error").isNotNull))

  /** Named observation of tile/error counts — the distributed analogue
    * of MaximumErrors/MaximumErrorRate guards (filter/error.py:37-113):
    * read the metrics after the action and abort the *job* if exceeded
    * (per-row exceptions are order-dependent and meaningless on a
    * cluster). */
  def observeErrors(df: DataFrame, name: String = "tile_metrics"): DataFrame =
    df.observe(
      name,
      count(lit(1)).as("tiles"),
      count(col("error")).as("errors"))

  /** Enforce an error-rate policy after an action has populated the
    * observation (reference filter/error.py:63-92 semantics, job-level). */
  def checkErrorRate(
      metrics: Map[String, Any],
      maxRate: Double,
      minTiles: Long = 8): Unit = {
    val tiles = metrics("tiles").asInstanceOf[Long]
    val errors = metrics("errors").asInstanceOf[Long]
    if (tiles >= minTiles && errors >= maxRate * tiles)
      throw new IllegalStateException(
        s"TooManyErrors: $errors/$tiles exceeds rate $maxRate")
  }

  /** Absolute error-count guard (reference filter/error.py:95-113,
    * MaximumErrors — the consecutive-error variant is order-dependent
    * and meaningless distributed; totals are the cluster policy). */
  def checkMaxErrors(metrics: Map[String, Any], maxErrors: Long): Unit = {
    val errors = metrics("errors").asInstanceOf[Long]
    if (errors >= maxErrors)
      throw new IllegalStateException(
        s"TooManyErrors: $errors >= $maxErrors")
  }

  /** Per-partition consecutive-error circuit breaker — the distributed
    * analogue of MaximumConsecutiveErrors (reference filter/error.py:
    * 37-60): the reference counts consecutive errors along its single
    * stream and raises TooManyErrors; distributed, "consecutive" is only
    * meaningful within a partition's row order, so each task keeps its
    * own counter (reset on any healthy row) and fails the task — and
    * with it the job — when the streak reaches `n`. Rows pass through
    * unchanged otherwise. */
  def maxConsecutiveErrorsPerPartition(n: Int)(df: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    val errIdx = df.schema.fieldIndex("error")
    df.mapPartitions { it =>
      var streak = 0
      it.map { row =>
        if (row.isNullAt(errIdx)) streak = 0
        else {
          streak += 1
          if (streak >= n)
            throw new IllegalStateException(
              s"TooManyErrors: $streak consecutive errored tiles in partition")
        }
        row
      }
    }(enc)
  }

  /** MergeFilter (reference filter/image.py:44-80): alpha-paste
    * same-coord tiles from other stores onto each tile, re-encode.
    * Join by coord; missing overlays pass the base tile through. */
  def mergeStores(
      base: DataFrame,
      overlays: Seq[DataFrame],
      format: String = "image/png"): DataFrame = {
    val fmt = graft.image.ImageCodec.formatOf(format)
    val pasteUdf = udf { (layers: Seq[Array[Byte]]) =>
      val present = layers.filter(_ != null)
      if (present.isEmpty) null
      else if (present.length == 1) present.head
      else {
        val baseImg = graft.image.ImageCodec.decode(present.head)
        val canvas = new java.awt.image.BufferedImage(
          baseImg.getWidth, baseImg.getHeight,
          java.awt.image.BufferedImage.TYPE_INT_ARGB)
        graft.image.ImageCodec.paste(canvas, baseImg, 0, 0)
        present.tail.foreach { d =>
          graft.image.ImageCodec.paste(canvas, graft.image.ImageCodec.decode(d), 0, 0)
        }
        graft.image.ImageCodec.encode(canvas, fmt)
      }
    }
    val joined = overlays.zipWithIndex.foldLeft(base) { case (acc, (o, i)) =>
      acc.join(
        o.select(col("z"), col("x"), col("y"), col("data").as(s"__o$i")),
        Seq("z", "x", "y"),
        "left")
    }
    joined
      .withColumn(
        "data",
        pasteUdf(array((col("data") +: overlays.indices.map(i => col(s"__o$i"))): _*)))
      .drop(overlays.indices.map(i => s"__o$i"): _*)
      // content_type must be sniffed, not stamped: the single-layer fast
      // path passes the ORIGINAL bytes through (the q65 md5-passthrough
      // contract), so a JPEG base with no overlay would be mislabeled by
      // lit(format); merged outputs sniff to `format` anyway since the
      // paste re-encodes into it
      .withColumn("content_type", contentTypeColumn(col("data")))
  }

  /** Content-type sniff from magic bytes as pure column math
    * (reference filter/contenttype.py:17-27). */
  def contentTypeColumn(data: Column): Column =
    when(data.isNull, lit(null))
      .when(substring(data, 1, 1) === lit("{".getBytes), "application/json")
      .when(substring(data, 1, 8) === lit(ImageCodec.PngMagic), "image/png")
      .when(substring(data, 1, 2) === lit(ImageCodec.JpegMagic), "image/jpeg")
      .otherwise(lit(null))

  /** ContentTypeAdder: fill content_type by sniffing (or force one). */
  def contentTypeAdder(force: Option[String] = None)(df: DataFrame): DataFrame =
    force match {
      case Some(ct) => df.withColumn("content_type", lit(ct))
      case None =>
        df.withColumn(
          "content_type",
          when(
            col("content_type").isNull && col("content_encoding").isNull,
            contentTypeColumn(col("data")))
            .otherwise(col("content_type")))
    }

  private val gzipUdf = udf((data: Array[Byte]) =>
    if (data == null) null else ImageCodec.gzip(data))
  private val gunzipUdf = udf((data: Array[Byte]) =>
    if (data == null) null else ImageCodec.gunzip(data))

  /** GzipCompressor (reference filter/gzip_.py:7-29). */
  def gzipCompress(df: DataFrame): DataFrame =
    df.withColumn(
        "data",
        when(col("content_encoding").isNull, gzipUdf(col("data")))
          .otherwise(col("data")))
      .withColumn(
        "content_encoding",
        when(col("content_encoding").isNull, lit("gzip"))
          .otherwise(col("content_encoding")))

  /** GzipDecompressor (reference filter/gzip_.py:32-38). */
  def gzipDecompress(df: DataFrame): DataFrame =
    df.withColumn(
        "data",
        when(col("content_encoding") === "gzip", gunzipUdf(col("data")))
          .otherwise(col("data")))
      .withColumn(
        "content_encoding",
        when(col("content_encoding") === "gzip", lit(null: String))
          .otherwise(col("content_encoding")))

  /** ImageFormatConverter (reference filter/image.py:17-41): re-encode
    * to the target content type; conversion failures land in the error
    * column, not as exceptions. One projection over the input's columns
    * (same names and order); the converted value is one common
    * subexpression of `data`, `error` and `content_type`, so each row
    * is converted once. */
  def formatConverter(targetCt: String)(df: DataFrame): DataFrame = {
    val convUdf = udf { (data: Array[Byte], ct: String) =>
      if (data == null) null
      else
        try ImageCodec.convert(data, if (ct == null) "" else ct, targetCt)
        catch { case _: Exception => null }
    }
    val converted = when(col("content_type") === targetCt, col("data"))
      .otherwise(convUdf(col("data"), col("content_type")))
    df.select(df.columns.toSeq.map {
      case "data" => converted.as("data")
      case "error" =>
        when(
          col("error").isNull && col("data").isNotNull && converted.isNull,
          lit(s"conversion to $targetCt failed"))
          .otherwise(col("error")).as("error")
      case "content_type" =>
        when(converted.isNotNull, lit(targetCt)).otherwise(col("content_type")).as("content_type")
      case c => col(c)
    }: _*)
  }

  /** OptiPNG (reference filter/optipng.py): lossless PNG byte-size
    * optimization, pure-JDK re-encode-and-keep-smaller (no external
    * binary). Non-PNG rows and error rows pass through untouched;
    * undecodable PNGs land in the error column. */
  def optiPng(df: DataFrame): DataFrame = {
    val optUdf = udf { (data: Array[Byte]) =>
      if (data == null) null
      else
        try ImageCodec.optimizePng(data)
        catch { case _: Exception => null }
    }
    df.withColumn(
        "optimized",
        when(col("content_type") === "image/png" && col("error").isNull,
          optUdf(col("data")))
          .otherwise(col("data")))
      .withColumn(
        "error",
        when(
          col("error").isNull && col("data").isNotNull && col("optimized").isNull,
          lit("png optimization failed"))
          .otherwise(col("error")))
      .withColumn("data", col("optimized"))
      .drop("optimized")
  }

  /** Named convolution kernels analogous to PIL's ImageFilter constants
    * (same shapes/weights as PIL where 3x3: SHARPEN, SMOOTH,
    * EDGE_ENHANCE; BLUR is a 3x3 box here). Kernel selection is by NAME
    * so the UDF closure serializes strings, not AWT objects. */
  private val FilterKernels: Map[String, (Int, Array[Float])] = Map(
    "sharpen" -> (3, Array(-2, -2, -2, -2, 32, -2, -2, -2, -2).map(_ / 16f)),
    "smooth" -> (3, Array(1, 1, 1, 1, 5, 1, 1, 1, 1).map(_ / 13f)),
    "edge_enhance" -> (3, Array(-1, -1, -1, -1, 10, -1, -1, -1, -1).map(_ / 2f)),
    "blur" -> (3, Array.fill(9)(1 / 9f)))

  /** PILImageFilter (reference filter/image.py:83-106): apply a named
    * convolution filter to the tile image and re-encode in the SAME
    * content type (the reference re-saves with the tile's format).
    * Decode/convolve/encode failures land in the error column. */
  def imageFilter(kernel: String)(df: DataFrame): DataFrame = {
    require(FilterKernels.contains(kernel), s"unknown kernel: $kernel")
    val filterUdf = udf { (data: Array[Byte], ct: String) =>
      if (data == null) null
      else
        try {
          val (size, weights) = FilterKernels(kernel)
          val src0 = ImageCodec.decode(data)
          // convolve on a known direct-color raster; indexed/custom
          // rasters are not ConvolveOp-compatible
          val src = new java.awt.image.BufferedImage(
            src0.getWidth, src0.getHeight,
            java.awt.image.BufferedImage.TYPE_INT_ARGB)
          src.getGraphics.drawImage(src0, 0, 0, null)
          val op = new java.awt.image.ConvolveOp(
            new java.awt.image.Kernel(size, size, weights),
            java.awt.image.ConvolveOp.EDGE_NO_OP, null)
          val dst = op.filter(src, null)
          ImageCodec.encode(
            dst, ImageCodec.formatOf(if (ct == null) "image/png" else ct))
        } catch { case _: Exception => null }
    }
    df.withColumn("filtered", filterUdf(col("data"), col("content_type")))
      .withColumn(
        "error",
        when(
          col("error").isNull && col("data").isNotNull && col("filtered").isNull,
          lit(s"image filter $kernel failed"))
          .otherwise(col("error")))
      .withColumn("data", col("filtered"))
      .drop("filtered")
  }
}
