package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CellIndex, TileGrids}
import graft.dedup.Dedup
import graft.engine.{Corpus, Spatial, SpatialKnn}
import graft.multimodal.Multimodal
import graft.sql.TileFunctions.{tileOfPointX, tileOfPointY}
import graft.text.TextOps

/** The one scale-ladder harness. `sbt "runMain graft.tools.Ladder <name>"`
  * runs every rung of the entry `name` of [[entries]] in one session,
  * prints one JSON line per rung, rewrites the entry's `BENCH/<doc>.md`
  * and exits 1 when a rung failed.
  *
  * A rung is first checked once, untimed: `check` gets a fresh `build`
  * and returns the rung's facts (pairs, candidates, planted
  * found/expected, errors), throwing when a planted truth does not hold.
  * It is then timed by Profile's sampling: `Profile.Samples` runs of the
  * entry's `build` and a drain of its rows, with medians, the 1-min
  * loadavg before each run and the layer counters. The check runs the
  * code once before the timing, so no sample pays JIT and class-loading
  * warm-up. An input that the timing
  * must leave out is `localCheckpoint`ed inside `build`, so its
  * generation lands in `phase.construct_s` and `phase.exec_s` is the
  * operator alone. Cores: `SPARK_GRAFT_CPUS`, else every available
  * processor. Rungs are sized for a 4-core, 15 GB box. */
object Ladder {

  final case class Rung(op: String, size: Long)

  type Facts = Seq[(String, Long)]

  /** One ladder: its doc name under BENCH/, the doc's title and scene
    * description, and its rungs with the timed build and the check. */
  final case class Entry(
      doc: String,
      title: String,
      about: String,
      rungs: Seq[Rung],
      build: (SparkSession, Rung) => DataFrame,
      check: (SparkSession, Rung, DataFrame) => Facts)

  final case class Result(
      ladder: String, rung: Rung, sampled: Option[Profile.Sampled], facts: Facts, error: Option[String]) {
    def json(cores: Int): String =
      s"""{"ladder":${Profile.str(ladder)},"op":${Profile.str(rung.op)},"size":${rung.size},""" +
        s""""nproc":${Runtime.getRuntime.availableProcessors},"cores":$cores,""" +
        sampled.fold("")(_.json + ",") +
        s""""facts":${facts.map { case (k, v) => s"${Profile.str(k)}:$v" }.mkString("{", ",", "}")}""" +
        error.fold("")(e => s""","error":${Profile.str(e)}""") + "}"
  }

  /** Checks, then times, one rung; never throws. */
  private def rung(spark: SparkSession, name: String, entry: Entry, r: Rung): Result = {
    val facts = Try(entry.check(spark, r, entry.build(spark, r)))
    spark.sharedState.cacheManager.clearCache()
    val sampled = Try(Profile.sampled(spark, () => entry.build(spark, r)))
    spark.sharedState.cacheManager.clearCache()
    val error = facts.failed.toOption.orElse(sampled.failed.toOption)
    Result(name, r, sampled.toOption, facts.getOrElse(Nil), error.map(_.toString))
  }

  /** Times and checks `rungs` in order, printing each rung's JSON line. */
  def run(spark: SparkSession, name: String, entry: Entry, rungs: Seq[Rung]): Seq[Result] =
    rungs.map { r =>
      val res = rung(spark, name, entry, r)
      println(res.json(spark.sparkContext.defaultParallelism))
      res
    }

  def passed(results: Seq[Result]): Boolean = results.forall(_.error.isEmpty)

  private val History = "## History (other boxes, not reproducible here)"

  /** The entry's doc: command, box, scene and one table row per rung;
    * the `History` section of the current doc, if any, is kept below. */
  private def doc(name: String, entry: Entry, results: Seq[Result], cores: Int, current: String): String = {
    val factNames = results.flatMap(_.facts.map(_._1)).distinct
    def row(r: Result): String = {
      val timing = r.sampled.fold(Seq("-", "-"))(s => Seq("phase.construct_s", "phase.exec_s").map(k => f"${s.median(k)}%.2f"))
      val facts = factNames.map(k => r.facts.toMap.get(k).fold("-")(_.toString))
      val loads = r.sampled.fold("-")(_.loads.mkString(" "))
      (Seq(r.rung.op, r.rung.size.toString) ++ timing ++ facts :+ loads :+ r.error.fold("ok")(e => s"FAILED: ${e.takeWhile(_ != '\n').replace("|", "/")}"))
        .mkString("| ", " | ", " |")
    }
    val header = Seq("op", "size", "construct s", "exec s") ++ factNames ++ Seq("loadavg", "check")
    val i = current.indexOf(History)
    s"""# ${entry.title}
       |
       |Generated by `sbt "runMain graft.tools.Ladder $name"` on a box
       |with nproc ${Runtime.getRuntime.availableProcessors}, at local[$cores]. Times are medians of ${Profile.Samples}
       |samples (`Profile`'s sampling): construct s is DataFrame
       |construction, including any input materialized for the timing, and
       |exec s is the drain of the result. The facts come from one untimed
       |check run before the samples, so every sample runs warm code; the
       |check fails the rung when a planted truth does not hold.
       |loadavg is the 1-min load before each sample.
       |
       |${entry.about}
       |
       |""".stripMargin + (Seq(header.mkString("| ", " | ", " |"), header.map(_ => "---").mkString("|", "|", "|")) ++
      results.map(row)).mkString("", "\n", "\n") + (if (i >= 0) "\n" + current.substring(i) else "")
  }

  def main(args: Array[String]): Unit = {
    val usage = s"usage: Ladder <${entries.keys.toSeq.sorted.mkString("|")}>"
    val name = args.headOption.getOrElse(sys.error(usage))
    val entry = entries.getOrElse(name, sys.error(usage))
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    val cores = spark.sparkContext.defaultParallelism
    val results = try run(spark, name, entry, entry.rungs) finally spark.stop()
    val path = Paths.get(s"BENCH/${entry.doc}.md")
    val current = if (Files.exists(path)) Files.readString(path) else ""
    Files.writeString(path, doc(name, entry, results, cores, current))
    if (!passed(results)) sys.exit(1)
  }

  /** Planted facts; fails unless `found` is in [need, expected]. */
  private def planted(found: Long, expected: Long, need: Long): Facts = {
    require(found >= need && found <= expected, s"planted truth: found $found of $expected, need $need")
    Seq("planted_found" -> found, "planted_expected" -> expected)
  }

  private def planted(found: Long, expected: Long): Facts = planted(found, expected, expected)

  private def hashed(id: Column, seed: Int, mod: Long): Column = pmod(xxhash64(id, lit(seed)), lit(mod))

  // ---- the spatial scene: shared by spatial, hex and rasterize ----

  /** n points hashed over the 1000 x 1000 extent. */
  private def points(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("pid"),
      (hashed(col("id"), 1, 1000000L) / 1000.0).as("px"), (hashed(col("id"), 2, 1000000L) / 1000.0).as("py"))

  /** m pentagons of radius r at hashed centers, and one planted point
    * at each center (pid = polygon id). */
  private def polygons(spark: SparkSession, m: Long, r: Double): (DataFrame, DataFrame) = {
    def center(seed: Int) = lit(r) + hashed(col("id"), seed, 1000000L) / 1000000.0 * (1000.0 - 2 * r)
    val centers = spark.range(m).select(col("id"), center(3).as("cx"), center(4).as("cy"),
      (hashed(col("id"), 5, 628L) / 100.0).as("ph"))
    val polys = centers.select(col("id").as("polygon_id"),
      transform(sequence(lit(0), lit(4)), i => struct(
        (col("cx") + lit(r) * cos(col("ph") + i.cast("double") * (2 * math.Pi / 5))).as("x"),
        (col("cy") + lit(r) * sin(col("ph") + i.cast("double") * (2 * math.Pi / 5))).as("y"))).as("vertices"))
    (polys, centers.select(col("id").as("pid"), col("cx").as("px"), col("cy").as("py")))
  }

  /** The polygon-join scene at n points: m = n/1000 polygons (at least
    * 100) covering 5% of the extent in total, their planted centers
    * (pid n + polygon id) among the points, and the index for `op`: a
    * quad zoom or a hex size whose cells track the polygon diameter. */
  private def joinScene(spark: SparkSession, r: Rung): (DataFrame, DataFrame, CellIndex) = {
    val n = r.size
    val m = math.max(100L, n / 1000L)
    val radius = math.sqrt(50000.0 / (math.Pi * m))
    val (polys, centers) = polygons(spark, m, radius)
    val pts = points(spark, n).unionByName(centers.select((col("pid") + n).as("pid"), col("px"), col("py")))
    val zoom = math.max(2, math.min(12, math.round(math.log(1000.0 / (2 * radius)) / math.log(2)).toInt))
    (pts, polys, if (r.op == "hex_join") CellIndex.Hex(radius) else CellIndex.Quad(zoom, 0, 0, 1000, 1000))
  }

  private def joinBuild(spark: SparkSession, r: Rung): DataFrame = {
    val (pts, polys, index) = joinScene(spark, r)
    Spatial.join(pts, polys, index)
  }

  /** Matches, tight-cover rows, the cell equi-join's candidates before
    * the exact refine, and every planted center matched to its polygon. */
  private def joinCheck(spark: SparkSession, r: Rung, joined: DataFrame): Facts = {
    val (pts, polys, index) = joinScene(spark, r)
    val out = joined.cache()
    val cover = polys.withColumn("_cell", explode(Spatial.tightCover(col("vertices"), index)))
    Seq("matches" -> out.count(), "cover_rows" -> cover.count(),
      "candidates" -> pts.withColumn("_cell", Spatial.cellOf(col("px"), col("py"), index)).join(cover, "_cell").count()) ++
      planted(out.where(col("pid") >= r.size && col("polygon_id") === col("pid") - r.size).count(), polys.count())
  }

  // ---- hex binning and the hexDisk candidate join ----

  /** Hex size tracking density (cells grow with points, ~2600 points a
    * cell), and the quad zoom with about as many cells. */
  private def hexGrid(n: Long): (CellIndex.Hex, CellIndex.Quad) = {
    val size = 10.0 / math.sqrt(n / 1e6)
    val zoom = math.max(2, math.min(12, math.round(math.log(1000.0 / math.sqrt(2.598 * size * size)) / math.log(2)).toInt))
    (CellIndex.Hex(size), CellIndex.Quad(zoom, 0, 0, 1000, 1000))
  }

  /** m = n/1000 (at least 1000) query anchors with a planted partner
    * closer than one hex width, and the corpus of n points plus the
    * partners (pid n + anchor id), both keyed by `_cell`. */
  private def diskScene(spark: SparkSession, n: Long): (DataFrame, DataFrame) = {
    val hex = hexGrid(n)._1
    val ax = hashed(col("id"), 11, 1000000L) / 1000.0
    val ay = hashed(col("id"), 12, 1000000L) / 1000.0
    val ang = hashed(col("id"), 13, 628L) / 100.0
    val d = hashed(col("id"), 14, 1000000L) / 1000000.0 * (hex.size * math.sqrt(3.0))
    val anchors = spark.range(math.max(1000L, n / 1000L)).select(col("id"), ax.as("ax"), ay.as("ay"),
      (ax + d * cos(ang)).as("bx"), (ay + d * sin(ang)).as("by"))
    val corpus = points(spark, n)
      .unionByName(anchors.select((col("id") + n).as("pid"), col("bx").as("px"), col("by").as("py")))
      .withColumn("_cell", Spatial.cellOf(col("px"), col("py"), hex))
    val queries = anchors.select(col("id"), explode(Spatial.hexDisk(Spatial.cellOf(col("ax"), col("ay"), hex), 2)).as("_cell"))
    (queries, corpus)
  }

  // ---- dedup generators ----

  /** n docs of 40 words from a 10k vocabulary; every 200th doc copies
    * its predecessor but its last word: n/200 planted pairs (da, da+1). */
  private def docs(spark: SparkSession, n: Long): DataFrame = {
    val isDup = pmod(col("id"), lit(200L)) === 199L
    val src = col("id") - when(isDup, 1L).otherwise(0L)
    val words = (0 until 39).map(i => concat(lit("w"), pmod(xxhash64(src * 40 + i), lit(10000L)))) :+
      when(isDup, concat(lit("zq"), col("id")))
        .otherwise(concat(lit("w"), pmod(xxhash64(src * 40 + 39), lit(10000L))))
    spark.range(n).select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
  }

  /** n 64-bit (or 256-bit) signatures; every 1000th id has a planted
    * partner (id + n) at hamming 3, and 500 ids from 10n on share one
    * signature (the hot group). */
  private def sigs(spark: SparkSession, n: Long, wide: Boolean): DataFrame = {
    def lane(k: Int) = xxhash64(col("id"), lit(k))
    def flip(k: Int, mul: Int) = lane(k).bitwiseXOR(expr(s"shiftleft(CAST(1 AS BIGINT), CAST((id * $mul) % 64 AS INT))"))
    val (sig, near, hot) =
      if (wide) (array((0 until 4).map(lane): _*),
        array(flip(0, 1), flip(1, 7), flip(2, 13), lane(3)),
        array((0 until 4).map(k => lit(0x5a5a1234abcd9876L ^ (k.toLong * 0x9e3779b97f4a7c15L))): _*))
      else (xxhash64(col("id")), xxhash64(col("id")).bitwiseXOR(lit((1L << 5) | (1L << 23) | (1L << 47))),
        lit(0x5a5a1234abcd9876L))
    spark.range(n).select(col("id"), sig.as("sig"))
      .unionByName(spark.range(n).where(pmod(col("id"), lit(1000L)) === 7L).select((col("id") + n).as("id"), near.as("sig")))
      .unionByName(spark.range(500).select((col("id") + 10L * n).as("id"), hot.as("sig")))
  }

  private def scores(sg: DataFrame): DataFrame = sg.select(col("id"), hashed(col("id"), 99, 1000000L).as("score"))

  private def dedupBuild(spark: SparkSession, r: Rung): DataFrame = r.op match {
    case "minhash_lsh" => Dedup.minhashCandidates(Dedup.minhashSignatures(docs(spark, r.size), "doc_id", "text"))
    case "simhash_pairs" => Dedup.simhashPairs(Dedup.simhash(docs(spark, r.size), "doc_id", "text"))
    case "ppjoin_jaccard" => Dedup.jaccardPairs(docs(spark, r.size), "doc_id", "text")
    case "hamming_auto" => Dedup.hammingPairsAuto(sigs(spark, r.size, wide = false), "id", "sig", 64, 3)
    case "hamming_wide256" => Dedup.hammingPairsAuto(sigs(spark, r.size, wide = true), "id", "sig", 256, 3)
    case "keep_policy" =>
      val sg = sigs(spark, r.size, wide = false)
      Dedup.keepRepresentatives(scores(sg), Dedup.hammingPairsAuto(sg, "id", "sig", 64, 3), "id", "score")
  }

  /** Pairs, planted pairs found and buckets dropped by the cap; for
    * keep_policy, the hot group is one cluster whose one keeper is its
    * best-score member, and every cluster has one keeper. */
  private def dedupCheck(spark: SparkSession, r: Rung, df: DataFrame): Facts = {
    val n = r.size
    val out = df.cache()
    def docPairs(need: Long => Long) = {
      val found = out.where(col("db") === col("da") + 1 && pmod(col("da"), lit(200L)) === 198L).count()
      planted(found, n / 200, need(n / 200))
    }
    def hamming(bits: Int) = {
      val sg = sigs(spark, n, wide = bits > 64)
      val combine = Dedup.combineForCount(n, bits, 3, wide = bits > 64)
      val cap = Dedup.autoBucketCap(n, bits, 3, combine = combine, wide = bits > 64)
      val capped = Dedup.bandBucketSizes(Dedup.hammingBandExplode(
        sg.select(col("sig").as("id"), col("sig")).distinct(), bits, 3, "id", "sig", combine = combine))
        .where(col("bucket_size") > cap).count()
      Seq("capped_buckets" -> capped) ++ planted(out.where(col("db") === col("da") + n).count(), n / 1000)
    }
    def capped(exploded: DataFrame) = Seq("capped_buckets" -> Dedup.bandBucketSizes(exploded).where(col("bucket_size") > 1000L).count())
    r.op match {
      case "keep_policy" =>
        val hot = out.where(col("id") >= 10L * n)
        val best = scores(sigs(spark, n, wide = false)).where(col("id") >= 10L * n)
          .orderBy(col("score").desc, col("id")).select("id").head().getLong(0)
        val keepers = hot.where(col("keep")).select("id").collect().map(_.getLong(0)).toSeq
        val sizes = out.groupBy("cluster_id")
          .agg(count(lit(1)).as("sz"), sum(when(col("keep"), 1L).otherwise(0L)).as("k"))
        val maxCluster = sizes.agg(max("sz")).head().getLong(0)
        require(hot.select("cluster_id").distinct().count() == 1L && keepers == Seq(best),
          s"hot group: keepers $keepers, expected $best")
        require(maxCluster == 500L && sizes.where(col("k") =!= 1L).isEmpty, s"largest cluster $maxCluster")
        Seq("rows" -> out.count(), "clusters" -> sizes.count(), "max_cluster" -> maxCluster) ++ planted(1, 1)
      case "hamming_auto" => Seq("pairs" -> out.count()) ++ hamming(64)
      case "hamming_wide256" => Seq("pairs" -> out.count()) ++ hamming(256)
      case op =>
        val d = docs(spark, n)
        Seq("pairs" -> out.count()) ++ (op match {
          // banded LSH is probabilistic; simhash finds the ~half of the
          // one-word edits that land within hamming 3 of 60 bits
          case "minhash_lsh" =>
            capped(Dedup.minhashBandExplode(Dedup.minhashSignatures(d, "doc_id", "text"))) ++ docPairs(e => e * 95 / 100)
          case "simhash_pairs" =>
            capped(Dedup.hammingBandExplode(Dedup.simhash(d, "doc_id", "text"), 60, 3, "id", "simhash")) ++
              docPairs(_ / 4)
          case "ppjoin_jaccard" => docPairs(identity)
        })
    }
  }

  // ---- kNN ----

  private val Web = TileGrids.Google.maxExtent

  /** kNN scene at n corpus points: q = n/100 queries, one planted corpus
    * point (n + qid) at each query's exact position, and the zoom that
    * keeps ~64 points a cell. */
  private def knnScene(spark: SparkSession, n: Long): (DataFrame, DataFrame, Int) = {
    def coord(seed: Int, lo: Double, span: Double) =
      lit(lo) + lit(span) * (hashed(col("id"), seed, 1000000000000000L) / 1e15)
    val zoom = math.max(2, math.round(math.log(math.sqrt(n / 64.0)) / math.log(2)).toInt)
    val qs = spark.range(n / 100).select(col("id").as("qid"),
      coord(3, Web.minX, Web.width).as("qx"), coord(4, Web.minY, Web.height).as("qy"))
    val assigned = spark.range(n)
      .select(col("id").as("image_id"), coord(1, Web.minX, Web.width).as("px"), coord(2, Web.minY, Web.height).as("py"))
      .unionByName(qs.select((col("qid") + n).as("image_id"), col("qx").as("px"), col("qy").as("py")))
      .withColumn("z", lit(zoom))
      .withColumn("x", tileOfPointX(col("px"), lit(zoom)))
      .withColumn("y", tileOfPointY(col("py"), lit(zoom)))
    (qs, assigned, zoom)
  }

  // ---- images ----

  private def media(spark: SparkSession, n: Long): DataFrame =
    Corpus.generate(spark, n).toDF().select(col("image_id").as("media_id"), col("bytes"))

  private def exifMedia(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { i =>
      (f"m$i%08d", Multimodal.synthExifJpeg((1 + i % 8).toInt, s"cam${i % 32}",
        f"2024:${1 + i % 12}%02d:${1 + i % 28}%02d 12:00:${i % 60}%02d", i % 2 == 0,
        gps = Some((if (i % 4 < 2) "N" else "S", Seq((i % 80, 1L), (i % 60, 1L), ((i * 7) % 6000, 100L)),
          if (i % 2 == 0) "E" else "W", Seq((i % 179, 1L), ((i * 3) % 60, 1L), ((i * 11) % 6000, 100L))))))
    }.toDF("media_id", "bytes")
  }

  /** Rows and error rows; fails on any error row. */
  private def noErrors(spark: SparkSession, r: Rung, df: DataFrame): Facts = {
    val out = df.cache()
    val errors = out.where(col("error").isNotNull).count()
    require(errors == 0L, s"$errors error rows")
    Seq("rows" -> out.count(), "errors" -> errors)
  }

  // ---- shared-key and burst scenes ----

  /** size/10 videos of 10 frames; every tenth video shares frames 0-7
    * with its successor; `hot` gives frame 9 of every video one key. */
  private def frames(spark: SparkSession, r: Rung): DataFrame = {
    val (v, j) = ((col("id") / 10).cast("long"), (col("id") % 10).cast("long"))
    val key = when(lit(r.op == "hot") && j === 9, lit("BOILER"))
      .when(v % 10 === 0 && j < 8, concat(lit("sh_"), v, lit("_"), j))
      .when(v % 10 === 1 && j < 8, concat(lit("sh_"), v - 1, lit("_"), j))
      .otherwise(concat(lit("u_"), v, lit("_"), j))
    spark.range(r.size).select(concat(lit("v"), v).as("media_id"), key.as("fh"))
  }

  /** Up to 10,000 devices with size/devices shots each at t = 4j +
    * 64 floor(j/5), so bursts are runs of five; `hot` adds one device
    * with 100x the shots. Returns the media and the closed-form bursts. */
  private def shots(spark: SparkSession, r: Rung): (DataFrame, Long) = {
    val devices = math.min(10000L, r.size)
    val per = r.size / devices
    val hot = if (r.op == "hot") 100L * per else 0L
    val all = spark.range(devices * per).select((col("id") % devices).as("device"), (col("id") / devices).cast("long").as("j"))
      .unionAll(spark.range(hot).select(lit(-1L).as("device"), col("id").as("j")))
    val media = all.select(col("device"), concat(lit("p"), col("device"), lit("_"), col("j")).as("media_id"),
      timestamp_seconds(col("j") * 4 + floor(col("j") / 5).cast("long") * 64).as("ts"))
    (media, devices * ((per + 4) / 5) + (hot + 4) / 5)
  }

  // ---- winnowing ----

  private def wordSpan(seed: Column, salt: Int, nWords: Int): Column =
    concat_ws(" ", transform(sequence(lit(1), lit(nWords)), j =>
      lower(conv(pmod(xxhash64(seed + lit(salt * 1000003L), j), lit(99999L)).cast("string"), 10, 36))))

  /** n docs of 52 words from a 10^5 vocabulary, and one partner (id + n)
    * per id = 7 (mod 100) that copies the doc's middle 12-word span
    * between fresh noise. */
  private def winnowDocs(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n).select(col("id"),
      concat_ws(" ", wordSpan(col("id"), 1, 20), wordSpan(col("id"), 2, 12), wordSpan(col("id"), 3, 20)).as("text"))
    // name the base id first: a sibling alias "id" in the same
    // projection would shadow the input attribute the span seeds read
    val partners = spark.range(n).where(col("id") % 100 === 7)
      .select(col("id").as("base_id"), (col("id") + lit(n)).as("id"))
      .select(col("id"), concat_ws(" ",
        wordSpan(col("id"), 4, 20), wordSpan(col("base_id"), 2, 12), wordSpan(col("id"), 5, 20)).as("text"))
    base.unionByName(partners)
  }

  /** Fixed radius and zoom of the rasterize ladder: ~64 tiles a polygon
    * at every rung, so output grows with the polygon count alone. */
  private val BurnR = math.sqrt(50000.0 / (math.Pi * 10000))
  private val BurnZoom = math.round(math.log(1000.0 / (BurnR * math.sqrt(0.02378))) / math.log(2)).toInt

  val entries: Map[String, Entry] = Map(
    "burst" -> Entry("BURST_SCALE", "Burst sessionization ladder (Dedup.burstSessionize)",
      """Capture times are planted so that bursts are exactly runs of five
        |shots, and the burst count has a closed form. `hot` adds one device
        |with 100x the median shot count: its partition rides the same
        |exchange. The input is materialized in construction.""".stripMargin,
      Seq(Rung("clean", 1000000L), Rung("clean", 4000000L), Rung("hot", 4000000L)),
      (spark, r) => Dedup.burstSessionize(shots(spark, r)._1.localCheckpoint(), "media_id", "device", "ts")
        .select("device", "burst_seq").distinct(),
      (spark, r, df) => planted(df.count(), shots(spark, r)._2)),

    "dedup" -> Entry("DEDUP_SCALE", "Dedup / near-dup ladder",
      """Docs ops run over 40-word docs with n/200 planted near-copies
        |(jaccard 0.95); signature ops over 64- or 256-bit signatures with
        |n/1000 planted partners at hamming 3 and a 500-member hot group of
        |one signature. keep_policy is pairs, clusters and one keeper per
        |cluster over the 64-bit corpus. capped_buckets counts the band
        |buckets over the cap. ppjoin_jaccard does its work while it is
        |built, so its time is in construct s.""".stripMargin,
      Seq(Rung("minhash_lsh", 5000L), Rung("minhash_lsh", 50000L), Rung("simhash_pairs", 5000L),
        Rung("simhash_pairs", 50000L), Rung("ppjoin_jaccard", 5000L), Rung("ppjoin_jaccard", 50000L),
        Rung("hamming_auto", 1000000L), Rung("hamming_auto", 4000000L), Rung("hamming_wide256", 1000000L),
        Rung("keep_policy", 1000000L)),
      dedupBuild, dedupCheck),

    "hex" -> Entry("HEX_SCALE", "Hexagonal cell index ladder",
      """hex_bin and quad_bin assign the same n points to a cell and count
        |per cell, at a hex size that shrinks as 1/sqrt(n) (constant
        |occupancy) and a quad zoom with about as many cells. disk_join
        |joins n/1000 query anchors' 19-cell hexDisk(2) against the points,
        |with one planted partner closer than one hex width per anchor.
        |hex_join is the point-in-polygon join of the spatial ladder's scene
        |on a hex index whose cells track the polygon size.""".stripMargin,
      Seq("hex_bin", "quad_bin", "disk_join", "hex_join").flatMap(op => Seq(1000000L, 4000000L, 16000000L).map(Rung(op, _))),
      (spark, r) => r.op match {
        case "hex_join" => joinBuild(spark, r)
        case "disk_join" => val (qs, corpus) = diskScene(spark, r.size); qs.join(corpus, "_cell")
        case op =>
          val (hex, quad) = hexGrid(r.size)
          points(spark, r.size).select(Spatial.cellOf(col("px"), col("py"), if (op == "hex_bin") hex else quad).as("c"))
            .groupBy("c").count()
      },
      (spark, r, df) => r.op match {
        case "hex_join" => joinCheck(spark, r, df)
        case "disk_join" =>
          val out = df.cache()
          Seq("candidates" -> out.count()) ++
            planted(out.where(col("pid") === col("id") + r.size).count(), math.max(1000L, r.size / 1000L))
        case _ =>
          val cells = df.cache()
          val binned = cells.agg(sum("count")).head().getLong(0)
          require(binned == r.size, s"$binned of ${r.size} points binned")
          Seq("cells" -> cells.count(), "binned" -> binned)
      }),

    "image" -> Entry("IMAGE_SCALE", "Image-hash decode and hash ladder (Multimodal.imageHash64)",
      """A deterministic 64 px PNG/JPEG corpus (Corpus.generate) is materialized
        |in construction, so exec s is decode plus hash. Every row must hash
        |without an error.""".stripMargin,
      Seq("phash", "dhash", "ahash", "phash256").map(Rung(_, 30000L)),
      (spark, r) => {
        val m = media(spark, r.size).localCheckpoint()
        if (r.op == "phash256") Multimodal.imagePhash256(m) else Multimodal.imageHash64(m, r.op)
      },
      noErrors),

    "knn" -> Entry("KNN_SCALE", "Batch kNN ladder (SpatialKnn.nearestBatch)",
      """n corpus points, n/100 queries, k = 10, ring 1, at the zoom that
        |keeps about 64 points a cell, so candidates per query stay flat as
        |n grows. One planted corpus point sits at every query's position
        |and must come back at distance 0; every query fills its top 10.""".stripMargin,
      Seq(250000L, 1000000L, 4000000L).map(Rung("nearest_batch", _)),
      (spark, r) => { val (qs, assigned, zoom) = knnScene(spark, r.size); SpatialKnn.nearestBatch(qs, assigned, zoom, 10, 1) },
      (spark, r, df) => {
        val (qs, assigned, zoom) = knnScene(spark, r.size)
        val out = df.cache()
        val rows = out.count()
        require(rows == qs.count() * 10, s"$rows rows: every query must fill its top 10")
        val cells = qs.withColumn("qtx", tileOfPointX(col("qx"), lit(zoom))).withColumn("qty", tileOfPointY(col("qy"), lit(zoom)))
          .withColumn("x", explode(sequence(col("qtx") - 1, col("qtx") + 1)))
          .withColumn("y", explode(sequence(col("qty") - 1, col("qty") + 1)))
        Seq("rows" -> rows, "candidates" -> cells.join(assigned.drop("z"), Seq("x", "y")).count()) ++
          planted(out.where(col("image_id") === col("qid") + r.size && col("dist2") === 0.0).count(), r.size / 100)
      }),

    "orient" -> Entry("ORIENT_SCALE", "EXIF and orientation ladder (Multimodal.exifMeta / orientNormalize)",
      """exif_meta walks camera-layout APP1 payloads (IFD0 and a GPS
        |sub-IFD) without decoding; passthrough normalizes orientation-1
        |images from a header peek; rotate decodes, remaps and re-encodes
        |orientations 2-8. Inputs are materialized in construction.""".stripMargin,
      Seq(Rung("exif_meta", 200000L), Rung("passthrough", 100000L), Rung("rotate", 10000L)),
      (spark, r) => r.op match {
        case "exif_meta" => Multimodal.exifMeta(exifMedia(spark, r.size).localCheckpoint())
        case op =>
          val orientation = if (op == "passthrough") lit(1) else pmod(xxhash64(col("media_id")), lit(7)) + 2
          Multimodal.orientNormalize(media(spark, r.size).withColumn("orientation", orientation.cast("int")).localCheckpoint())
      },
      noErrors),

    "rasterize" -> Entry("RASTERIZE_SCALE", "Vector to raster burn ladder (Spatial.rasterize)",
      f"""m pentagons of radius $BurnR%.2f burned onto the zoom-$BurnZoom grid of the
         |1000 x 1000 extent under the center-sample rule: the tiles per polygon
         |are fixed, so output grows with m. The plan must hold no exchange and
         |no join, and every polygon's center cell must be burned.""".stripMargin,
      Seq(10000L, 100000L, 1000000L).map(Rung("burn", _)),
      (spark, r) => Spatial.rasterize(polygons(spark, r.size, BurnR)._1, BurnZoom, 0, 0, 1000, 1000),
      (spark, r, df) => {
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange") && !plan.contains("Join"), s"rasterize must be shuffle- and join-free:\n$plan")
        val out = df.cache()
        val centers = polygons(spark, r.size, BurnR)._2.select(col("pid").as("polygon_id"),
          Spatial.cellOf(col("px"), col("py"), CellIndex.Quad(BurnZoom, 0, 0, 1000, 1000)).as("_c"))
        Seq("tiles" -> out.count()) ++ planted(out.join(centers, "polygon_id")
          .where(col("cy") * (1L << BurnZoom) + col("cx") === col("_c")).count(), r.size)
      }),

    "sharedkey" -> Entry("SHAREDKEY_SCALE", "Shared-key pair ladder (Dedup.sharedKeyPairs)",
      """size/10 videos of 10 frame keys; every tenth video shares exactly 8
        |keys with its successor, so there are size/100 pairs, each with
        |shared = 8 (minShared 5, dfCap 1000). `hot` gives every video one
        |boilerplate key, far above the cap. The input is materialized in
        |construction.""".stripMargin,
      Seq(Rung("clean", 1000000L), Rung("clean", 4000000L), Rung("hot", 4000000L)),
      (spark, r) => Dedup.sharedKeyPairs(frames(spark, r).localCheckpoint(), "media_id", "fh", minShared = 5L, dfCap = 1000L),
      (spark, r, df) => {
        val g = df.agg(count(lit(1)), min("shared"), max("shared")).head()
        require(g.getLong(0) == 0L || (g.getLong(1) == 8L && g.getLong(2) == 8L),
          s"shared ${g.get(1)}..${g.get(2)}, expected 8")
        planted(g.getLong(0), r.size / 100)
      }),

    "spatial" -> Entry("SPATIAL_SCALE", "Point-in-polygon join ladder (Spatial.join, quad index)",
      """n points, m = n/1000 pentagons covering 5% of the extent in total,
        |a quad zoom whose cells track the polygon diameter, and one planted
        |point at each polygon's center. candidates is the cell equi-join's
        |output before the exact refine; it should grow with points times
        |the area fraction, not with points times polygons.""".stripMargin,
      Seq(1000000L, 4000000L, 16000000L).map(Rung("quad_join", _)),
      joinBuild, joinCheck),

    "winnow" -> Entry("WINNOW_SCALE", "Span-level partial-dup ladder (TextOps.winnowPairs)",
      """winnowPairs (k 8, w 7, minShared 3, dfCap 32) over 52-word docs, with
        |one partner per 100 docs that copies a 12-word span inside fresh
        |noise; every partner pair must be found. The text is materialized
        |in construction. A 200,000-doc rung fails at an 8 GB driver: the
        |materialized input's size estimate does not grow with the
        |fingerprint explode, so both joins inside sharedKeyPairs broadcast
        |the whole fingerprint relation.""".stripMargin,
      Seq(Rung("winnow_pairs", 5000L), Rung("winnow_pairs", 50000L)),
      (spark, r) => TextOps.winnowPairs(winnowDocs(spark, r.size).localCheckpoint(), "id", "text", 8, 7, 3L, 32L),
      (spark, r, df) => {
        val out = df.cache()
        Seq("pairs" -> out.count()) ++
          planted(out.where(col("db") === col("da") + r.size && col("da") % 100 === 7).count(), (r.size + 92) / 100)
      }))
}
