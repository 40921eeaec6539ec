package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.{BoundingPyramid, TileCoord, TileGrids}
import graft.image.ImageCodec

/** End-to-end slice (SURVEY.md §7.2): the download.py-shaped job over
  * the synthetic corpus — region winners -> resume anti-join -> payload
  * attach -> convert -> sink; re-runs prove idempotent and partial
  * resume; captions and pixels survive row-for-row.
  */
class PipelineSpec extends SparkTestBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-e2e").toString

  test("assignment matches driver-side grid math and is shuffle-free") {
    val corpus = Corpus.generate(spark, 200).toDF()
    val assigned = Pipeline.assign(corpus, Seq(4, 7)).cache()
    assert(assigned.count() == 400)
    assigned.select("phash", "px", "py", "z", "x", "y").collect().foreach { r =>
      val expect = TileGrids.Google.tilecoord(r.getInt(3), r.getDouble(1), r.getDouble(2))
      assert(r.getLong(4) == expect.x && r.getLong(5) == expect.y)
    }
    // no exchange in the assignment plan (narrow column math only)
    val plan = Pipeline.assign(corpus, Seq(4, 7)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("copy job end-to-end: pixels, captions, idempotent resume") {
    val sink = tmp() + "/tiles"
    val metrics = tmp() + "/metrics"
    val corpus = Corpus.generate(spark, 400).toDF().cache()
    val bp = BoundingPyramid.full(2, 4) // 4+16+256... z2..z4 = 4^2+4^3+4^4=336

    val written =
      Pipeline.copyJob(spark, corpus, bp, sink, metrics, "job-1")
    assert(written > 0)

    val tiles = TileTable.read(spark, sink).cache()
    // every tile is a real PNG with caption metadata matching its source image
    val sample = tiles.limit(20).collect()
    sample.foreach { r =>
      assert(r.getAs[String]("content_type") == "image/png")
      val data = r.getAs[Array[Byte]]("data")
      assert(ImageCodec.sniffContentType(data).contains("image/png"))
      val md = r.getAs[Map[String, String]]("metadata")
      val imgId = md("image_id")
      val i = imgId.stripPrefix("img").toLong
      assert(md("caption") == Corpus.captionFor(i, Corpus.splitmix64(i)))
    }
    // representative selection is the min-(phash,image_id) corpus member
    // whose point falls in the tile
    val perTile = Pipeline
      .assign(corpus, Seq(3))
      .where(col("z") === 3)
      .collect()
      .groupBy(r => (r.getAs[Long]("x"), r.getAs[Long]("y")))
    val z3 = tiles.where(col("z") === 3).collect()
    z3.foreach { r =>
      val members = perTile((r.getAs[Long]("x"), r.getAs[Long]("y")))
      val best = members.minBy(m => (m.getAs[Long]("phash"), m.getAs[String]("image_id")))
      assert(
        r.getAs[Map[String, String]]("metadata")("image_id") ==
          best.getAs[String]("image_id"))
      assert(
        r.getAs[Map[String, String]]("metadata")("img_count").toInt == members.length)
    }

    // pixel fidelity: png tiles decode identically to their source
    val pngRow = tiles
      .where(col("z") === 4)
      .collect()
      .find(r => r.getAs[Map[String, String]]("metadata")("image_id").nonEmpty)
      .get
    val srcId = pngRow.getAs[Map[String, String]]("metadata")("image_id")
      .stripPrefix("img").toLong
    val srcImg = ImageCodec.gradientImage(64, Corpus.splitmix64(srcId))
    val gotImg = ImageCodec.decode(pngRow.getAs[Array[Byte]]("data"))
    val p = ImageCodec.psnr(srcImg, gotImg)
    assert(p >= 40.0, s"PSNR $p") // jpeg-sourced reps are lossy; >=40 required

    // idempotent resume: second run adds zero rows
    val before = tiles.count()
    val after = Pipeline.copyJob(spark, corpus, bp, sink, metrics, "job-2")
    assert(after == before, s"resume wrote ${after - before} extra rows")

    // metrics: per-partition rows sum to the sink row count, all done
    val m = Checkpoint.readMetrics(spark, metrics)
    val firstRun = m.where(col("job_id") === "job-1")
    assert(firstRun.agg(sum("rows")).collect().head.getLong(0) == before)
    assert(m.where(col("status") =!= "done").count() == 0)
    // second run contributed no rows
    val secondRun = m.where(col("job_id") === "job-2")
    assert(
      secondRun.count() == 0 ||
        secondRun.agg(sum("rows")).collect().head.getLong(0) == 0)
  }

  /** A 200-image corpus read back from parquet, so no plan over it
    * carries the generator's own `Range` node. */
  private lazy val storedCorpus = {
    val dir = tmp() + "/corpus"
    Corpus.generate(spark, 200).toDF().write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def perZoom(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
    df.groupBy("z").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def coordSet(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long)] =
    df.select("z", "x", "y").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  test("copy job over a sparse deep pyramid follows the occupied tiles") {
    // z2..14 is ~3.6e8 region coords for 200 images: the job must never
    // generate the region, only filter and resume the winner coords
    val bp = BoundingPyramid.full(2, 14)
    assert(bp.size > 300000000L)
    val sink = tmp() + "/deep"
    val metrics = tmp() + "/deep-m"
    // the tile-sink write: TileTable.write's (z, cell) sort under WriteFiles
    def isSinkWrite(p: String) = p.contains("WriteFiles") && p.contains("cell#")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val written =
      try Pipeline.copyJob(spark, storedCorpus, bp, sink, metrics, "job-deep")
      finally {
        // the execution listener fires async; poll briefly for delivery
        val deadline = System.nanoTime() + 10000000000L
        while (!plans.synchronized(plans.exists(isSinkWrite)) &&
            System.nanoTime() < deadline)
          Thread.sleep(50)
        spark.listenerManager.unregister(listener)
      }
    val expected = perZoom(Pipeline.tileWinnersDirect(storedCorpus, bp.zs.toSeq))
    assert(perZoom(TileTable.read(spark, sink)) == expected)
    assert(written == expected.values.sum)
    val writePlans = plans.synchronized(plans.toList).filter(isSinkWrite)
    assert(writePlans.nonEmpty, "tile-sink write plan not captured")
    writePlans.foreach { p =>
      assert(!p.linesIterator.exists(_.matches(".*\\bRange \\(.*")),
        s"write plan enumerates the region:\n$p")
    }
    // re-run: nothing left to do
    assert(Pipeline.copyJob(spark, storedCorpus, bp, sink, metrics, "job-deep-2") == written)
  }

  test("copy job resume: a partial pass then the full pass writes exactly the missing tiles") {
    val sink = tmp() + "/resume"
    val metrics = tmp() + "/resume-m"
    val full = BoundingPyramid.full(2, 4)
    val first = Pipeline.copyJob(
      spark, storedCorpus, BoundingPyramid.full(2, 3), sink, metrics, "job-p1")
    val afterFirst = coordSet(TileTable.read(spark, sink))
    val winners = coordSet(Pipeline.tileWinnersDirect(storedCorpus, full.zs.toSeq))
    assert(afterFirst == winners.filter(_._1 <= 3))
    assert(first == afterFirst.size)

    val second = Pipeline.copyJob(spark, storedCorpus, full, sink, metrics, "job-p2")
    val missing = winners -- afterFirst
    assert(missing.nonEmpty && missing.forall(_._1 == 4))
    assert(second - first == missing.size, s"pass 2 wrote ${second - first}")
    // no coord written twice, and together the passes cover the region
    assert(coordSet(TileTable.read(spark, sink)) == winners)
    assert(second == winners.size)
    val pass2Rows = Checkpoint.readMetrics(spark, metrics)
      .where(col("job_id") === "job-p2").agg(sum("rows")).collect().head.getLong(0)
    assert(pass2Rows == missing.size)
  }

  test("cheap bounding pyramid and tms view round-trip") {
    val sink = tmp() + "/tiles2"
    val corpus = Corpus.generate(spark, 100).toDF()
    val bp = BoundingPyramid.full(2, 2)
    Pipeline.copyJob(spark, corpus, bp, sink, tmp() + "/m", "job-bp")
    val tiles = TileTable.read(spark, sink)
    val got = TileTable.cheapBoundingPyramid(tiles)
    val coords = tiles.select("z", "x", "y").collect()
      .map(r => TileCoord(r.getInt(0), r.getLong(1), r.getLong(2)))
    val expect = coords.foldLeft(BoundingPyramid.empty)(_ add _)
    assert(got.bounds == expect.bounds)
    // tms flip is involutive
    val back = TileTable.tmsView(TileTable.tmsView(tiles))
      .select("z", "x", "y").collect()
      .map(r => TileCoord(r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(back == coords.toSet)
  }

  test("tileWinners rollup is bit-identical to direct per-zoom aggregation") {
    val s = spark
    import org.apache.spark.sql.functions.xxhash64
    val phashes = s.range(5000).select(xxhash64(col("id")).as("phash"))
    val region = graft.core.BoundingPyramid.fromString("4/8/5:+3/+1/+1")
    val cases = Seq(
      // deep zooms: 5000 rows is sparse at z12 -> auto-selects direct
      (Seq(4, 5, 6, 7, 8, 9, 10, 11, 12), None),
      (Seq(0), None),
      (Seq(3, 7), None), // non-contiguous zoom list
      (Seq(12), None),
      // shallow zooms: 5000 rows >= 4^6/4 -> auto-selects the ROLLUP
      (Seq(2, 3, 4, 5, 6), None),
      (Seq(1, 4), None),
      (Seq(4, 5, 6, 7), Some(region)))
    for ((zooms, reg) <- cases) {
      def toSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[Int]("z"), r.getAs[Long]("x"), r.getAs[Long]("y"),
          r.getAs[Long]("win_phash"), r.getAs[Long]("img_count"))).toSet
      val rollup = toSet(Pipeline.tileWinners(phashes, zooms, region = reg))
      val direct = toSet(Pipeline.tileWinnersDirect(phashes, zooms, region = reg))
      assert(rollup == direct, s"zooms=$zooms region=${reg.isDefined}")
      // no-region runs must produce output (region runs may filter all)
      assert(reg.isDefined || rollup.nonEmpty)
    }
  }

  test("renderingTheWorld: maxZ=0 returns the root as a leaf even over maxPerTile") {
    // z == maxZ tiles cannot subdivide, so they are leaves regardless of
    // count — including the root, which used to be silently dropped
    val corpus = Corpus.generate(spark, 100).toDF()
    val leaves = Pipeline.renderingTheWorld(corpus, maxPerTile = 10, maxZ = 0).collect()
    assert(leaves.length == 1)
    val r = leaves.head
    assert(r.getInt(0) == 0 && r.getLong(1) == 0L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 100L, s"root must carry every point: $r")
  }

  test("renderingTheWorld: leaves partition the point set, monotone subdivision") {
    spark.sharedState.cacheManager.clearCache()
    val corpus = Corpus.generate(spark, 500).toDF()
    val leavesDf = Pipeline.renderingTheWorld(corpus, maxPerTile = 50, maxZ = 6)
    // superseded BFS levels are unpersisted in the loop: only the final
    // leaf accumulator + the root count level may remain cached (a lazy
    // formulation pins O(maxZ) level caches — the round-1 leak)
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.contains("cachedData")).get
    f.setAccessible(true)
    def cachedCount: Int = f.get(cm) match {
      case c: java.util.Collection[_] => c.size
      case i: Iterable[_]             => i.size
      case r: java.util.concurrent.atomic.AtomicReference[_] =>
        r.get() match { case s: Seq[_] => s.size; case _ => -1 }
      case _ => -1
    }
    assert(cachedCount >= 0, "cacheManager introspection works")
    assert(cachedCount <= 2, s"superseded BFS levels must be unpersisted, $cachedCount cached")
    val leaves = leavesDf.collect()
    val total = leaves.map(_.getAs[Long]("cnt")).sum
    assert(total == 500, s"leaves cover all points, got $total")
    // no interior leaf exceeds the threshold
    leaves.filter(_.getAs[Int]("z") < 6).foreach { r =>
      assert(r.getAs[Long]("cnt") <= 50)
    }
    // leaves are disjoint: no leaf is an ancestor of another
    val set = leaves.map(r => (r.getAs[Int]("z"), r.getAs[Long]("x"), r.getAs[Long]("y"))).toSet
    set.foreach { case (z, x, y) =>
      var (az, ax, ay) = (z - 1, x / 2, y / 2)
      while (az >= 0) {
        assert(!set.contains((az, ax, ay)), s"leaf ($z,$x,$y) has ancestor leaf")
        ax /= 2; ay /= 2; az -= 1
      }
    }
  }
}
