package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.BoundingPyramid
import graft.image.ImageCodec
import graft.sql.Skew

class OpsSpec extends SparkTestBase {

  test("salted join equals plain join, spreads hot keys") {
    val s = spark
    import s.implicits._
    // skewed fact: key 1 has 10k rows, others 10
    val big = ((1 to 10000).map(i => (1L, i.toLong)) ++
      (1 to 10).flatMap(k => (1 to 10).map(i => (k.toLong + 1, i.toLong))))
      .toDF("k", "v")
    val dim = (1L to 11L).map(k => (k, s"payload-$k")).toDF("k", "p")
    val plain = big.join(dim, "k")
    val salted = Skew.saltedJoin(big, dim, Seq("k"), hotThreshold = 100, saltFactor = 8)
    // full ROW multiset equality, not just cardinalities: a hot-key
    // replica bug that attached the wrong dim payload would preserve
    // every count
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("k", "v", "p").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(rows(salted) == rows(plain))
    assert(Skew.hotKeys(big, Seq("k"), 100).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("spatial knn: ring expansion matches brute force") {
    val corpus = Corpus.generate(spark, 3000).toDF()
    val assigned = Pipeline.assign(corpus, Seq(6)).cache()
    val e = graft.core.TileGrids.Google.maxExtent
    for ((fx, fy) <- Seq((0.31, 0.77), (0.001, 0.001), (0.999, 0.5))) {
      val qx = e.minX + e.width * fx
      val qy = e.minY + e.height * fy
      val got = SpatialKnn.nearest(assigned, qx, qy, 6, 10)
        .select("image_id").collect().map(_.getString(0)).toSeq
      val want = SpatialKnn.nearestBrute(assigned, qx, qy, 6, 10)
        .select("image_id").collect().map(_.getString(0)).toSeq
      assert(got == want, s"query ($fx,$fy)")
    }
  }

  test("spatial knn: non-square grid — ring sufficiency uses the smaller tile dimension") {
    // Extent 64x2 at z=3: tileW=8, tileH=0.25. A sufficiency radius from
    // tileW alone would accept a ring whose y-coverage is 32x smaller
    // than claimed and return non-nearest neighbors.
    val s = spark
    import s.implicits._
    val grid = graft.core.QuadTileGrid(graft.core.Extent(0, 0, 64, 2))
    val pts = (0 until 400).map { i =>
      val px = (i * 0.61803398875) % 1.0 * 64.0
      val py = (i * 0.38196601125) % 1.0 * 2.0
      val tc = grid.tilecoord(3, px, py)
      (f"p$i%04d", 3, tc.x, tc.y, px, py)
    }.toDF("image_id", "z", "x", "y", "px", "py")
    for ((fx, fy) <- Seq((0.5, 0.5), (0.2, 0.9), (0.8, 0.1))) {
      val (qx, qy) = (64.0 * fx, 2.0 * fy)
      val got = SpatialKnn.nearest(pts, qx, qy, 3, 8, grid)
        .select("image_id").collect().map(_.getString(0)).toSeq
      val want = SpatialKnn.nearestBrute(pts, qx, qy, 3, 8)
        .select("image_id").collect().map(_.getString(0)).toSeq
      assert(got == want, s"query ($fx,$fy): $got != $want")
    }
  }

  test("spatial knn batch: per-query results equal ring-bounded brute force") {
    val s = spark
    import s.implicits._
    val corpus = Corpus.generate(spark, 3000).toDF()
    val assigned = Pipeline.assign(corpus, Seq(6)).cache()
    val e = graft.core.TileGrids.Google.maxExtent
    val qs = Seq((1L, 0.31, 0.77), (2L, 0.12, 0.12), (3L, 0.88, 0.41))
      .map { case (id, fx, fy) =>
        (id, e.minX + e.width * fx, e.minY + e.height * fy)
      }
    val queries = qs.toDF("qid", "qx", "qy")
    val got = SpatialKnn.nearestBatch(queries, assigned, 6, 5, 1)
      .orderBy("qid", "rnk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // oracle: brute force restricted to the same 3x3 ring per query
    val want = qs.flatMap { case (qid, qx, qy) =>
      val qt = graft.core.TileGrids.Google.tilecoord(6, qx, qy)
      assigned
        .where(col("x").between(qt.x - 1, qt.x + 1) &&
          col("y").between(qt.y - 1, qt.y + 1))
        .withColumn("dist2",
          (col("px") - qx) * (col("px") - qx) +
            (col("py") - qy) * (col("py") - qy))
        .orderBy(col("dist2"), col("image_id"))
        .limit(5).collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getAs[String]("image_id")) }
    }
    assert(got.toSeq == want)
    // every query got exactly k hits on this dense corpus
    assert(got.count(_._2 == 5) == 3)

    // one query cross-checked against UNRESTRICTED brute force with a
    // grid-covering ring (2^6 tiles): validates the batch path as a true
    // kNN end-to-end, not just against a copy of its own ring restriction
    val full = SpatialKnn.nearestBatch(
      queries.where(col("qid") === 1), assigned, 6, 5, 64)
      .orderBy("rnk").collect().map(_.getString(2)).toSeq
    val fullWant = SpatialKnn.nearestBrute(assigned, qs.head._2, qs.head._3, 6, 5)
      .select("image_id").collect().map(_.getString(0)).toSeq
    assert(full == fullWant, "grid-covering ring must equal unrestricted brute force")
  }

  test("mergeStores alpha-pastes overlays by coord") {
    val s = spark
    import s.implicits._
    def solid(argb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, argb)
      ImageCodec.encode(img, "png")
    }
    val base = Seq((1, 0L, 0L, solid(0xffff0000), "image/png"))
      .toDF("z", "x", "y", "data", "content_type")
    val overlay = Seq((1, 0L, 0L, solid(0xff00ff00))).toDF("z", "x", "y", "data")
    val out = Filters.mergeStores(base, Seq(overlay)).collect().head
    val img = ImageCodec.decode(out.getAs[Array[Byte]]("data"))
    assert(img.getRGB(0, 0) == 0xff00ff00) // opaque overlay wins
    // coord without overlay passes through
    val base2 = Seq((1, 1L, 1L, solid(0xffff0000), "image/png"))
      .toDF("z", "x", "y", "data", "content_type")
    val out2 = Filters.mergeStores(base2, Seq(overlay)).collect().head
    assert(ImageCodec.decode(out2.getAs[Array[Byte]]("data")).getRGB(0, 0) == 0xffff0000)
    // content_type is SNIFFED, not stamped: a JPEG base with no overlay
    // passes its bytes through and must keep its real type, while merged
    // coords re-encode into the target format
    def jpeg(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xff0000)
      ImageCodec.encode(img, "jpeg")
    }
    val jbase = Seq((1, 1L, 1L, jpeg(), "image/jpeg"))
      .toDF("z", "x", "y", "data", "content_type")
    val out3 = Filters.mergeStores(jbase, Seq(overlay)).collect().head
    assert(out3.getAs[String]("content_type") == "image/jpeg",
      "passthrough JPEG must not be relabeled image/png")
    assert(out.getAs[String]("content_type") == "image/png",
      "merged output re-encodes to the target format")
  }

  test("corpus jpegEvery phase holds for every period, default bit-identical") {
    // residue is 7 % jpegEvery: a literal 7 is unreachable for
    // jpegEvery <= 7 and would silently produce an all-PNG corpus
    assert(Corpus.row(7, 64, 10).fmt == "jpeg", "default phase unchanged")
    assert(Corpus.row(17, 64, 10).fmt == "jpeg")
    assert(Corpus.row(8, 64, 10).fmt == "png")
    val fmts = (0L until 20L).map(i => Corpus.row(i, 32, 5).fmt)
    assert(fmts.count(_ == "jpeg") == 4, s"every 5th row must be jpeg: $fmts")
    assert(fmts(2) == "jpeg" && fmts(7) == "jpeg", "phase 7 % 5 = 2")
  }

  test("delete pipeline removes a region, keeps the rest") {
    val sink = Files.createTempDirectory("graft-del").toString + "/tiles"
    val corpus = Corpus.generate(spark, 300).toDF()
    Pipeline.copyJob(spark, corpus, BoundingPyramid.full(2, 3), sink,
      Files.createTempDirectory("graft-del-m").toString, "job-del")
    val before = TileTable.read(spark, sink)
    val beforeZ2 = before.where(col("z") === 2).count()
    val beforeZ3 = before.where(col("z") === 3).count()
    val beforeZ2Deleted = before.where(col("z") === 2 && col("x") < 2).count()
    assert(beforeZ2 > 0 && beforeZ3 > 0)
    // delete half of z2 (x in [0,2)), all of z3
    val delRegion = BoundingPyramid(
      2 -> (graft.core.Bounds(0, 2), graft.core.Bounds(0, 4)),
      3 -> (graft.core.Bounds(0, 8), graft.core.Bounds(0, 8)))
    TileTable.deleteRegion(spark, sink, delRegion)
    val after = TileTable.read(spark, sink)
    assert(after.where(col("z") === 3).count() == 0)
    assert(after.where(col("z") === 2 && col("x") < 2).count() == 0)
    assert(after.where(col("z") === 2).count() == beforeZ2 - beforeZ2Deleted)
  }

  test("tile sink write plan carries exactly ONE sort (writer elides its own)") {
    // TileTable.write sorts (z, cell) app-side; [z] survives the
    // cell-dropping projection as the output-ordering prefix, so the
    // dynamic-partition writer must NOT add a second payload sort — and
    // no concurrent-writer config may sneak back in (tasks x z-levels
    // open parquet writers OOM'd an 8 GB heap at 16 tasks)
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("WriteFiles"))
          plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val sink = Files.createTempDirectory("graft-wplan").toString + "/tiles"
      val corpus = Corpus.generate(spark, 200).toDF()
      Pipeline.copyJob(spark, corpus, BoundingPyramid.full(2, 3), sink,
        Files.createTempDirectory("graft-wplan-m").toString, "job-wplan")
      // the execution listener fires async; poll briefly for delivery
      val deadline = System.nanoTime() + 10000000000L
      while (plans.synchronized(plans.isEmpty) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val writePlans = plans.synchronized(plans.toList)
      assert(writePlans.nonEmpty, "no write plan captured")
      val tileSink = writePlans.filter(_.contains("cell#"))
      assert(tileSink.nonEmpty, "tile-sink write plan not captured")
      tileSink.foreach { p =>
        // the AQE string repeats the tree under "== Initial Plan =="
        val finalPlan = p.split("== Initial Plan ==")(0)
        val sorts = finalPlan.linesIterator.count(_.matches(".*\\bSort \\[.*"))
        assert(sorts == 1, s"expected exactly 1 sort in write plan, got $sorts:\n$finalPlan")
      }
      assert(!spark.conf.getOption("spark.sql.maxConcurrentOutputFileWriters")
        .exists(_.toInt > 0))
    } finally spark.listenerManager.unregister(listener)
  }

  test("randomize is deterministic and preserves rows") {
    val df = spark.range(1000).toDF("id")
    val a = Pipeline.randomize(df).collect().map(_.getLong(0)).toSeq
    val b = Pipeline.randomize(df).collect().map(_.getLong(0)).toSeq
    assert(a.sorted == (0L until 1000L))
    assert(a == b, "same seed, same order")
  }

  test("estimateCompletion reports per-z ratios") {
    val s = spark
    import s.implicits._
    val tiles = Seq((1, 0L, 0L), (1, 0L, 1L), (2, 0L, 0L)).toDF("z", "x", "y")
    val out = Pipeline.estimateCompletion(tiles, BoundingPyramid.full(1, 2))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1) == ((2L, 4L, 500000L)))
    assert(out(2) == ((1L, 16L, 62500L)))
  }

  test("error guards fire on metrics") {
    intercept[IllegalStateException](
      Filters.checkErrorRate(Map("tiles" -> 100L, "errors" -> 50L), 0.3))
    Filters.checkErrorRate(Map("tiles" -> 100L, "errors" -> 5L), 0.3)
    intercept[IllegalStateException](
      Filters.checkMaxErrors(Map("errors" -> 10L), 10))
    Filters.checkMaxErrors(Map("errors" -> 9L), 10)
  }

  test("dropErrors keeps exactly the rows without an error (reference filter/error.py)") {
    val s = spark
    import s.implicits._
    val tiles = Seq((1L, null: String), (2L, "decode failed"), (3L, null), (4L, "timeout"))
      .toDF("id", "error")
    assert(Filters.dropErrors(tiles).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, null), (3L, null)))
  }

  test("contentTypeAdder sniffs unset types or forces one (reference filter/contenttype.py)") {
    val s = spark
    import s.implicits._
    val png = ImageCodec.PngMagic ++ Array[Byte](1, 2)
    val tiles = Seq(
      (1, png, null: String, null: String),
      (2, ImageCodec.JpegMagic ++ Array[Byte](3), null: String, null: String),
      (3, "{\"a\": 1}".getBytes("UTF-8"), null: String, null: String),
      (4, Array[Byte](0, 1, 2), null: String, null: String), // unknown magic
      (5, png, "image/webp", null: String), // already typed: kept
      (6, png, null: String, "gzip")) // encoded bytes are not sniffed
      .toDF("id", "data", "content_type", "content_encoding")
    def types(df: org.apache.spark.sql.DataFrame): Seq[Option[String]] =
      df.orderBy("id").select("content_type").as[Option[String]].collect().toSeq
    assert(types(Filters.contentTypeAdder()(tiles)) == Seq(
      Some("image/png"), Some("image/jpeg"), Some("application/json"), None,
      Some("image/webp"), None))
    assert(types(Filters.contentTypeAdder(Some("image/png"))(tiles)) == Seq.fill(6)(Some("image/png")))
  }

  test("per-partition consecutive-error breaker trips at n, resets on success") {
    val s = spark
    import s.implicits._
    def tiles(errs: Seq[Boolean]) = errs.zipWithIndex
      .map { case (e, i) => (i.toLong, if (e) "boom" else null) }
      .toDF("id", "error")
      .coalesce(1)
    // streak of 3 trips
    val bad = tiles(Seq(false, true, true, true, false))
    val thrown = intercept[org.apache.spark.SparkException](
      Filters.maxConsecutiveErrorsPerPartition(3)(bad).count())
    assert(thrown.getMessage.contains("TooManyErrors") ||
      Option(thrown.getCause).exists(_.getMessage.contains("TooManyErrors")))
    // healthy row resets the streak: same error count, never 3 in a row
    val ok = tiles(Seq(true, true, false, true, true, false))
    assert(Filters.maxConsecutiveErrorsPerPartition(3)(ok).count() == 6)
  }

  test("mbtiles-parity metadata table round-trip") {
    val path = Files.createTempDirectory("graft-md").toString
    val s = spark
    import s.implicits._
    val tiles = Seq((2, 0L, 0L), (5, 1L, 1L)).toDF("z", "x", "y")
    TileTable.writeMetadata(spark, path,
      Map("name" -> "t") ++ TileTable.zoomMetadata(tiles))
    val md = TileTable.readMetadata(spark, path)
    assert(md("minzoom") == "2" && md("maxzoom") == "5" && md("name") == "t")
  }

  test("rateLimit enforces the reference release schedule per partition") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => (i, s"t$i")).toDF("id", "v").coalesce(1)
    // row k releases at start + k/rate: 9 paid rows at 50 Hz >= 180 ms
    val t0 = System.nanoTime()
    assert(Filters.rateLimit(df, 50.0).count() == 10)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 150.0, s"rate limit not enforced: $elapsedMs ms")
    // rows and content flow through unchanged
    val out = Filters.rateLimit(df, 100000.0).collect().map(_.getInt(0)).sorted
    assert(out.toSeq == (1 to 10))
    intercept[IllegalArgumentException](Filters.rateLimit(df, 0.0))
  }

  test("checkpoint report aggregates a known metrics fixture per stage") {
    val s = spark
    import s.implicits._
    // two stages: 'sink' has 3 partitions (2s, 4s, 6s; 100+200+300 rows,
    // 1+0+2 errors), 'conv' has one partition (zero-variance stddev)
    val metrics = Seq(
      ("j1", "sink", 0, 100L, 1L, 2000000000L, "done"),
      ("j1", "sink", 1, 200L, 0L, 4000000000L, "done"),
      ("j1", "sink", 2, 300L, 2L, 6000000000L, "done"),
      ("j1", "conv", 0, 50L, 0L, 5000000000L, "done"))
      .toDF("job_id", "stage", "partition_id", "rows", "errors", "nanos", "status")
    val rep = Checkpoint.report(metrics).collect()
      .map(r => r.getAs[String]("stage") -> r).toMap
    val sink = rep("sink")
    assert(sink.getAs[Long]("partitions") == 3L)
    assert(sink.getAs[Long]("rows") == 600L)
    assert(sink.getAs[Long]("errors") == 3L)
    assert(math.abs(sink.getAs[Double]("total_secs") - 12.0) < 1e-9)
    assert(math.abs(sink.getAs[Double]("mean_secs") - 4.0) < 1e-9)
    assert(math.abs(sink.getAs[Double]("stddev_secs") - 2.0) < 1e-9)
    assert(math.abs(sink.getAs[Double]("min_secs") - 2.0) < 1e-9)
    assert(math.abs(sink.getAs[Double]("max_secs") - 6.0) < 1e-9)
    assert(math.abs(sink.getAs[Double]("tiles_per_cpu_sec") - 50.0) < 1e-9)
    assert(math.abs(sink.getAs[Double]("tiles_per_sec_wall") - 100.0) < 1e-9)
    val conv = rep("conv")
    assert(conv.getAs[Double]("stddev_secs") == 0.0, "single partition -> 0, not NaN/null")
  }
}
