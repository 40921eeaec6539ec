package graft.engine

import org.apache.spark.GraftBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BoundingPyramid, QuadTileGrid, TileGrids}
import graft.sql.{Jobs, TileFunctions}
import graft.sql.TileFunctions._

/** The flagship pipelines: raster<->vector tile assignment, the
  * winners -> region filter -> resume anti-join -> payload attach ->
  * convert -> sink copy job (reference scripts/tc_copy.py:25-121 /
  * examples/download.py:15-34),
  * and the data-dependent BFS subdivision
  * (reference store/renderingtheworld.py:8-46).
  *
  * Scale notes (the 100 TB story):
  *  - assignment is pure column math on a single corpus scan — no
  *    shuffle until the per-tile aggregation;
  *  - the per-tile render groups by cell id, which the sink then sorts
  *    by, so one shuffle serves both aggregation and layout;
  *  - region joins never enumerate the pyramid: the winner coords are
  *    filtered by the `inPyramid` predicate (or the per-level bounds
  *    range join, `regionSemiJoin`), so region work follows the occupied
  *    tiles, not the region's area;
  *  - resume is a left_anti join of those winner coords against sink
  *    coords only (column-pruned scan of (z,x,y), no blobs); that one
  *    sink scan also yields the sink's count, so a copy job reads its
  *    sink once.
  */
object Pipeline {

  /** Derive deterministic WebMercator points from the corpus phash
    * (FIXTURES.md §1: the two 30-bit halves are the position driver). */
  def withPoints(
      corpus: DataFrame,
      grid: QuadTileGrid = TileGrids.Google): DataFrame = {
    val e = grid.maxExtent
    val fx = (col("phash").bitwiseAND(lit(0x3fffffffL))).cast("double") / (1L << 30).toDouble
    val fy = (shiftR(col("phash"), lit(30)).bitwiseAND(lit(0x3fffffffL)))
      .cast("double") / (1L << 30).toDouble
    corpus
      .withColumn("px", lit(e.minX) + lit(e.width) * fx)
      .withColumn("py", lit(e.minY) + lit(e.height) * fy)
  }

  /** Raster->vector tile assignment at one or more zoom levels: each
    * image point gets its containing tile (z, x, y) and Z-order cell id.
    * One corpus scan; `explode` over the (tiny) zoom list; zero shuffle. */
  def assign(
      corpus: DataFrame,
      zooms: Seq[Int],
      grid: QuadTileGrid = TileGrids.Google): DataFrame =
    withPoints(corpus, grid)
      .withColumn("z", explode(lit(zooms.toArray)))
      .withColumn("x", tileOfPointX(col("px"), col("z"), grid))
      .withColumn("y", tileOfPointY(col("py"), col("z"), grid))
      .withColumn("cell", TileFunctions.cellId(col("z"), col("x"), col("y")))

  /** Phase 1 of the per-tile render (then [[attachBytes]]): the
    * byteless winner-coordinate relation — one ~24-byte row per output
    * tile `(z, x, y, win_phash, img_count)`, the winner being the
    * min-phash member (phash is unique per image by corpus contract).
    * Image BYTES flow exactly once: assignment derives from a byteless
    * `phash` projection, and [[attachBytes]] joins the winners back to
    * the original corpus, one byte-carrying probe row per image rather
    * than one per (image x zoom). ALL spatial filtering and joining
    * (region semi-joins, resume anti-joins) should happen against THIS
    * relation, not against the byte-carrying output: joining
    * coordinates first and attaching payloads last is what keeps image
    * bytes off every shuffle.
    *
    * Computed as a TWO-PHASE HIERARCHICAL ROLLUP, not a per-zoom
    * re-aggregation of the point set: (1) points aggregate ONCE at the
    * deepest requested zoom, keyed by the single-long Z-order cell id
    * (8-byte key vs the former 3-column (int,long,long) key); (2) each
    * deep WINNER row explodes into its ancestor cells at the requested
    * zooms (`cell >> 2(zmax-z)` — the sentinel bit keeps levels
    * distinct) and one further aggregation rolls min/sum up. A tile's
    * min-phash/img_count are exactly the rollup of its children's, and
    * the double->tile truncation commutes with halving
    * (floor(floor(f*2^z)/2) == floor(f*2^(z-1)); the XYZ y-flip
    * commutes likewise) — verified bit-for-bit against the direct
    * per-zoom aggregation in PipelineSpec.
    *
    * Scale shape: the second exchange carries TILE rows, not point
    * rows — at corpus scale (10^12 points, <=4^z tiles per level) that
    * is orders of magnitude less shuffle than exploding every point
    * |zooms| times. The explode is also a deliberate optimizer barrier:
    * a chained groupBy-per-level formulation gets merged by Catalyst
    * back into |zooms| full re-aggregations of the point set (and a
    * per-level union turns the region semi-join's z key into a literal,
    * degrading it to a nested-loop join) — this shape keeps ONE linear
    * plan with z as a real join column.
    *
    * The region filter applies AFTER the rollup (on decoded winner
    * coords): filtering the deep level first would also drop points
    * that coarser in-region ancestors still need. */
  def tileWinners(
      corpus: DataFrame,
      zooms: Seq[Int],
      grid: QuadTileGrid = TileGrids.Google,
      region: Option[BoundingPyramid] = None,
      expectedRows: Option[Long] = None): DataFrame = {
    val zs = zooms.distinct.sorted
    require(zs.nonEmpty && zs.last <= 30 && zs.head >= 0, s"zooms out of range: $zooms")
    val zMax = zs.last
    // Strategy auto-selection: the rollup's second exchange carries the
    // DEEP WINNER set — a win exactly when the deep aggregation dedups
    // (points-per-deep-tile >> 0, i.e. points >= ~4^zMax/4: at 10^12
    // points vs 16.7M z12 tiles that is a 1000x shuffle cut). Below
    // that density the deep level barely dedups, so the rollup just
    // adds a sequential exchange — the single-pass direct form is
    // faster. Both forms are bit-identical (PipelineSpec), so this is
    // purely a physical choice. Callers that know their corpus size
    // pass `expectedRows`; otherwise the optimizer's estimate of the
    // phash projection decides (rowCount when CBO has it, else a
    // sizeInBytes heuristic — crude, but only performance hangs on it).
    val estRows: Long = expectedRows.getOrElse {
      val plan = corpus.select("phash").queryExecution.optimizedPlan
      plan.stats.rowCount
        .map(_.min(BigInt(Long.MaxValue)).toLong)
        .getOrElse((plan.stats.sizeInBytes / 12).min(BigInt(Long.MaxValue)).toLong)
    }
    val denseDeep = estRows >= (1L << (2 * math.min(zMax, 30))) / 4
    if (zs.size == 1 || !denseDeep)
      return tileWinnersDirect(corpus, zooms, grid, region)
    val pts = withPoints(corpus.select("phash"), grid)
    val deep = pts
      .select(
        TileFunctions.cellId(
          lit(zMax),
          tileOfPointX(col("px"), lit(zMax), grid),
          tileOfPointY(col("py"), lit(zMax), grid)).as("cell"),
        col("phash"))
      .groupBy("cell")
      .agg(min("phash").as("win_phash"), count(lit(1)).as("img_count"))
    val rolled = deep
      .select(
        explode(array(zs.map(z =>
          shiftR(col("cell"), lit(2 * (zMax - z)))): _*)).as("cell"),
        col("win_phash"), col("img_count"))
      .groupBy("cell")
      .agg(min("win_phash").as("win_phash"), sum("img_count").as("img_count"))
    val out = rolled.select(
      TileFunctions.cellZ(col("cell")).as("z"),
      TileFunctions.cellX(col("cell")).as("x"),
      TileFunctions.cellY(col("cell")).as("y"),
      col("win_phash"), col("img_count"))
    region
      .map(bp => out.where(inPyramid(bp, col("z"), col("x"), col("y"))))
      .getOrElse(out)
  }

  /** The direct (per-zoom explode + re-aggregate) form of
    * [[tileWinners]] — the semantic reference the rollup is
    * cross-checked against; |zooms|-fold more exchange volume, kept for
    * testing and for grids whose levels are not nested (none today). */
  def tileWinnersDirect(
      corpus: DataFrame,
      zooms: Seq[Int],
      grid: QuadTileGrid = TileGrids.Google,
      region: Option[BoundingPyramid] = None): DataFrame = {
    val coords = assign(corpus.select("phash"), zooms, grid)
    val inRegion = region
      .map(bp => coords.where(inPyramid(bp, col("z"), col("x"), col("y"))))
      .getOrElse(coords)
    inRegion
      .groupBy("z", "x", "y")
      .agg(min("phash").as("win_phash"), count(lit(1)).as("img_count"))
  }

  /** Phase 2: attach payload bytes to an (already filtered/joined)
    * winners relation via the `phash = win_phash` equi-join. With the
    * input table laid out hash-distributed on `phash` (bucketing /
    * Iceberg write-distribution), the byte side needs NO exchange: only
    * the 32-byte winner rows shuffle, and each image's bytes stream
    * straight from the scan into the probe.
    *
    * `shuffleHashWinners = true` forces a shuffled-hash join built on
    * the winner rows — use it when the winners relation is too big to
    * broadcast AND the corpus is phash-bucketed: Catalyst's pre-AQE
    * size estimate for the winners aggregate is far above the
    * local-hash-map bound, so it would otherwise plan a sort-merge
    * join that SORTS the byte-carrying side (measured: an 8 GB
    * spill-heavy sort at 800k images). Leave it false (default) for
    * small/medium winner sets, where AQE's broadcast of the winners is
    * strictly better — bytes then move zero times. */
  def attachBytes(
      corpus: DataFrame,
      winners: DataFrame,
      shuffleHashWinners: Boolean = false): DataFrame =
    corpus
      .select(
        col("phash"), col("bytes"), col("fmt"), col("caption"), col("image_id"))
      .join(
        if (shuffleHashWinners) winners.hint("shuffle_hash") else winners,
        col("phash") === col("win_phash"))
      .select(
        col("z"), col("x"), col("y"), lit(1).as("n"),
        col("bytes").as("data"),
        when(col("fmt") === "png", "image/png")
          .otherwise("image/jpeg").as("content_type"),
        lit(null).cast("string").as("content_encoding"),
        lit(null).cast("string").as("error"),
        map(
          lit("caption"), col("caption"),
          lit("image_id"), col("image_id"),
          lit("img_count"), col("img_count").cast("string")).as("metadata"))

  /** The copy/seed pipeline (reference examples/download.py:15-34 and
    * tc_copy.py's enumerate -> anti-join -> lookup, driven by the tiles
    * that exist instead of the region's area): the region-restricted
    * winner coords, resume-anti-joined against the sink's coords, get
    * their payloads attached, converted, written, and per-partition
    * metrics recorded. It writes winners ∩ region ∖ sink — the same set
    * as the enumerated form, since a region coord without a source tile
    * writes nothing — but no region coord is ever generated, so the work
    * follows the occupied tiles (a z4..18 region is ~9e10 coords; its
    * winners are at most one per image per zoom).
    *
    * Returns the sink's tile count after the write without reading the
    * sink again: a counting-only metrics node sits on the resume join's
    * sink scan, and the result is rows scanned + rows written (the
    * anti-join makes them disjoint). The node keeps the join's inferred
    * zoom filter from pruning the sink's `z=` directories, so it is used
    * only when the sink holds no zoom outside the region (the scan reads
    * every sink row anyway). The sink is counted explicitly instead when
    * it holds other zooms, or when either node did not hear from every
    * one of its partitions: adaptive execution can drop the sink side of
    * an anti-join whose winners side is empty, and a lagging listener
    * bus can leave task-end events undelivered. */
  def copyJob(
      spark: SparkSession,
      corpus: DataFrame,
      bp: BoundingPyramid,
      sinkPath: String,
      metricsPath: String,
      jobId: String,
      targetCt: String = "image/png"): Long = {
    val sc = spark.sparkContext
    // coordinate-phase joins first (region predicate + resume anti-join
    // against 32-byte winner rows), payload attach last — image bytes
    // never ride a coordinate shuffle
    val winners = tileWinners(corpus, bp.zs.toSeq, region = Some(bp))
    val sinkZooms = TileTable.zooms(spark, sinkPath)
    val (todo, scan) =
      Checkpoint.resumeCounting(winners, sinkPath, count = sinkZooms.forall(bp.zs.toSet))
    val written =
      try {
        scan.foreach(GraftBus.listen(sc, _))
        val converted = Filters.formatConverter(targetCt)(attachBytes(corpus, todo))
        TileTable.write(
          Checkpoint.instrument(converted, jobId, "sink", metricsPath), sinkPath)
        Checkpoint.flushTotal(jobId, "sink")
      } finally {
        scan.foreach(sc.removeSparkListener)
        Checkpoint.unregister(sc, jobId, "sink")
      }
    val scanned = if (sinkZooms.isEmpty) Some(0L) else scan.flatMap(_.total)
    (for (s <- scanned; w <- written) yield s + w).getOrElse(
      Jobs.described(spark, "Pipeline.copyJob")(TileTable.read(spark, sinkPath).count()))
  }

  /** Deterministic work-order randomization (reference
    * tc_copy.py:67-69 random.shuffle): spread hot key ranges across
    * the cluster without breaking run-to-run reproducibility. */
  def randomize(df: DataFrame, seed: Long = 42L): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      xxhash64(struct(df.columns.map(col): _*), lit(seed)))

  /** Completion estimate: enumerated-region size vs present tiles per z
    * (reference scripts/tc_info.py:44-67). */
  def estimateCompletion(
      tiles: DataFrame,
      bp: graft.core.BoundingPyramid): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val expected = bp.bounds.toSeq
      .map { case (z, (xb, yb)) => (z, xb.length * yb.length) }
      .toDF("z", "expected")
    tiles
      .groupBy("z")
      .agg(countDistinct(col("x"), col("y")).as("present"))
      .join(broadcast(expected), Seq("z"), "right")
      .na.fill(0L, Seq("present"))
      .select(
        col("z"), col("present"), col("expected"),
        floor(lit(1000000.0) * col("present") / col("expected"))
          .cast("long").as("ratio_e6"))
  }

  /** Rendering-the-world: data-dependent quadtree subdivision. A tile is
    * subdivided while it contains more than `maxPerTile` points and
    * z < maxZ — the z-level-synchronous BFS form of the reference's
    * work-queue feedback loop (store/renderingtheworld.py:36-40; order
    * is not part of the contract). Returns the selected (leaf) tiles
    * with their counts.
    *
    * Implementation: points are assigned once at maxZ; every coarser
    * count is a hierarchical rollup (shiftR of the deep coords), so each
    * BFS level is one aggregation of the previous level — no rescans of
    * the corpus. */
  def renderingTheWorld(
      corpus: DataFrame,
      maxPerTile: Long,
      maxZ: Int,
      grid: QuadTileGrid = TileGrids.Google): DataFrame = {
    // ONE linear plan, no caching, no driver loop (the round-1 lazy
    // BFS pinned O(maxZ) cached levels until job end; an eager
    // materialize-per-level variant fixed the leak but cost ~20
    // sequential jobs): counts at EVERY level come from a single
    // deep-zoom aggregation + ancestor-cell explode + re-aggregation
    // (the tileWinners rollup shape), and the leaf rule needs only the
    // PARENT relation because counts are monotone up the tree —
    // parent.cnt > maxPerTile implies every higher ancestor also
    // subdivides, so "parent subdivides AND (self does not, or
    // z == maxZ)" is the complete BFS-reachability test.
    require(maxZ >= 0 && maxZ <= 30, s"maxZ out of range: $maxZ")
    val deep = assign(corpus, Seq(maxZ), grid)
      .groupBy("cell")
      .agg(count(lit(1)).as("cnt"))
    val counts =
      if (maxZ == 0) deep
      else
        deep
          .select(
            explode(array((0 to maxZ).map(z =>
              shiftR(col("cell"), lit(2 * (maxZ - z)))): _*)).as("cell"),
            col("cnt"))
          .groupBy("cell")
          .agg(sum("cnt").as("cnt"))
    val decoded = counts.select(
      TileFunctions.cellZ(col("cell")).as("z"),
      TileFunctions.cellX(col("cell")).as("x"),
      TileFunctions.cellY(col("cell")).as("y"),
      col("cell"), col("cnt"))
    val parents = decoded
      .where(col("cnt") > maxPerTile)
      .select(col("cell").as("pcell"))
    val inner = decoded
      .where(col("z") > 0 &&
        (if (maxZ == 0) lit(false)
         else col("z") === maxZ || col("cnt") <= maxPerTile))
      .join(parents, shiftR(col("cell"), lit(2)) === col("pcell"), "left_semi")
    // z == maxZ tiles are leaves regardless of count (they cannot
    // subdivide further) — that includes the root when maxZ == 0, which
    // would otherwise be silently dropped for exceeding maxPerTile.
    val root = decoded.where(col("z") === 0 &&
      (if (maxZ == 0) lit(true) else col("cnt") <= maxPerTile))
    inner.unionAll(root).select("z", "x", "y", "cnt")
  }
}
