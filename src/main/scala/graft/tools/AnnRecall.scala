package graft.tools

import org.apache.spark.sql.functions._

import graft.ann.Ann

/** Recall-vs-cost evidence for the ANN family — the standard way to
  * judge approximate search: recall@10 against brute-force cosine /
  * exact-L2 ground truth on a clustered synthetic corpus, alongside
  * the fraction of the corpus each method actually scores. Writes
  * BENCH/ANN_RECALL.md. Deterministic (splitmix64 corpus, fixed
  * queries), so the table is reproducible run to run. */
object AnnRecall {

  private def unit(h: Long, d: Int): Double = {
    val m = graft.engine.Corpus.splitmix64(h * 64 + d)
    ((m & 0xffffL).toDouble / 0xffff.toDouble) * 2.0 - 1.0
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 5000
    if (args.length > 1 && args(1) == "ladder") { ladder(n); return }
    val nClusters = 16
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    import spark.implicits._

    // clustered corpus: 16 deterministic centers + per-vector noise —
    // the structure IVF exists to exploit
    val vecs = spark.range(n).map { i =>
      val c = (i % nClusters).toInt
      val v = Array.tabulate(64) { d =>
        unit(c.toLong + 1000, d) + 0.35 * unit(i + 2000, d)
      }
      (i, v.map(_.toFloat))
    }.toDF("vec_id", "embedding").cache()
    vecs.count()

    val queries = (0 until 10).map(q => (q * (n / 10)).toLong)
    val k = 10

    // ground truths per metric: IVF scores cosine, PQ-ADC scores L2 —
    // recall must be judged against the matching exact ranking
    val exactCos: Map[Long, Seq[Long]] = queries.map { q =>
      q -> Ann.topK(vecs, "vec_id", "embedding", q, k)
        .select("id").as[Long].collect().toSeq
    }.toMap
    val all: Array[(Long, Array[Double])] = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().map { case (i, v) => (i, v.toArray) }
    val exactL2: Map[Long, Seq[Long]] = queries.map { q =>
      val qv = all.find(_._1 == q).get._2
      q -> all.filter(_._1 != q).map { case (i, v) =>
        var s = 0.0
        var d = 0
        while (d < 64) { val t = qv(d) - v(d); s += t * t; d += 1 }
        (s, i)
      }.sortBy(identity).take(k).map(_._2).toSeq
    }.toMap

    def recall(got: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]]): Double =
      queries.map { q =>
        got(q).toSet.intersect(exact(q).toSet).size.toDouble / k
      }.sum / queries.size

    val centroids = Ann.planes(64, nClusters, seed = 99L)
    // K=64 centroids per subspace (4 per cluster) so codes resolve
    // WITHIN clusters — K equal to the cluster count would collapse
    // every same-cluster vector to identical codes
    val books = Ann.samplePqCodebooks(vecs, "vec_id", "embedding", m = 8, k = 64)
    val trained = Ann.trainPqCodebooks(vecs, "vec_id", "embedding", m = 8, k = 64, iters = 5)
    // same training bounded to a deterministic ~2k-row hash sample —
    // the form a 100 TB corpus uses (codebooks converge on a sample;
    // full-relation re-encoding per Lloyd iteration would be 5 needless
    // corpus scans)
    val trainedSampled = Ann.trainPqCodebooks(
      vecs, "vec_id", "embedding", m = 8, k = 64, iters = 5, maxTrainRows = 2000L)

    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    // IVF (exact distance within probed lists) at several nprobe
    for (np <- Seq(1, 2, 4, nClusters)) {
      val got = queries.map { q =>
        q -> Ann.ivfSearch(vecs, "vec_id", "embedding", centroids, q, k, np)
          .select("id").as[Long].collect().toSeq
      }.toMap
      rows += ((s"IVF nprobe=$np/$nClusters (cosine)", recall(got, exactCos), np.toDouble / nClusters))
    }
    // PQ-ADC full scan (approximate distance, every row scored)
    for ((name, bk) <- Seq("PQ-ADC (sampled books)" -> books,
      "PQ-ADC (Lloyd-trained)" -> trained,
      "PQ-ADC (Lloyd-trained on 2k-row sample)" -> trainedSampled)) {
      val codes = Ann.pqEncode(vecs, "vec_id", "embedding", bk).cache()
      codes.count()
      val got = queries.map { q =>
        val qv = vecs.where(col("vec_id") === q)
          .select(col("embedding").cast("array<double>")).as[Seq[Double]]
          .head().toArray
        q -> Ann.pqAdcSearch(codes.where(col("id") =!= q), bk, qv, k)
          .select("id").as[Long].collect().toSeq
      }.toMap
      rows += ((name, recall(got, exactL2), 1.0))
      codes.unpersist()
    }
    // PQ-ADC + exact rerank: codes nominate C candidates, raw vectors
    // re-score only those. The 2k-sample row is the production
    // composition claim for sample-bounded training: book variance
    // washes out at the rerank stage, so a 100 TB corpus never needs
    // full-scan Lloyd iterations.
    for ((label, bk, c) <- Seq(
        ("trained", trained, 50),
        ("trained", trained, 100),
        ("trained", trained, 200),
        ("2k-sample books", trainedSampled, 200))) {
      val codes = Ann.pqEncode(vecs, "vec_id", "embedding", bk).cache()
      codes.count()
      val got = queries.map { q =>
        val qv = vecs.where(col("vec_id") === q)
          .select(col("embedding").cast("array<double>")).as[Seq[Double]]
          .head().toArray
        q -> Ann.pqAdcRerank(vecs.where(col("vec_id") =!= q), "vec_id", "embedding",
          codes.where(col("id") =!= q), bk, qv, k, candidates = c)
          .select("id").as[Long].collect().toSeq
      }.toMap
      rows += ((s"PQ-ADC + rerank C=$c ($label)", recall(got, exactL2), c.toDouble / n))
      codes.unpersist()
    }
    // full IVF-PQ (approximate distance, probed lists only)
    for (np <- Seq(2, 4)) {
      val got = queries.map { q =>
        q -> Ann.ivfPqSearch(vecs, "vec_id", "embedding", centroids, trained, q, k, np)
          .select("id").as[Long].collect().toSeq
      }.toMap
      rows += ((s"IVF-PQ nprobe=$np (trained)", recall(got, exactL2), np.toDouble / nClusters))
    }
    // IVF-PQ + exact rerank — the full production composition: probe
    // routes, ADC nominates C within the probed lists' codes, exact L2
    // re-scores only C raw vectors per query
    for ((np, c) <- Seq((2, 100), (2, 200), (4, 200))) {
      val got = queries.map { q =>
        q -> Ann.ivfPqSearch(vecs, "vec_id", "embedding", centroids, trained, q, k,
          nprobe = np, rerank = c)
          .select("id").as[Long].collect().toSeq
      }.toMap
      rows += ((s"IVF-PQ nprobe=$np + rerank C=$c (trained)",
        recall(got, exactL2), c.toDouble / n))
    }

    val md = new StringBuilder
    md ++= s"# ANN recall@$k vs corpus fraction scored\n\n"
    md ++= s"Corpus: $n clustered 64-dim vectors ($nClusters centers + noise), "
    md ++= "10 fixed queries, ground truth = exact ranking in each method's own metric.\n"
    md ++= "Generated by `sbt \"runMain graft.tools.AnnRecall\"` (deterministic).\n\n"
    md ++= "| method | recall@10 | fraction of corpus scored |\n|---|---|---|\n"
    rows.foreach { case (name, r, frac) =>
      md ++= f"| $name | $r%.2f | ${frac * 100}%.0f%% |\n"
    }
    md ++= """
      |Notes:
      |- IVF with exact in-list distance trades recall for scan fraction
      |  via `nprobe`; probing all lists is exact by construction (1.00).
      |- PQ-ADC scores every row but reads only m-byte codes (32x less
      |  I/O than raw vectors at m=8) — its recall ceiling is the
      |  quantization error, which Lloyd training visibly tightens.
      |- Rerank rows: the fraction column is the share of RAW VECTORS
      |  touched (the expensive I/O at corpus scale); the nominating
      |  ADC pass still scans the codes column. Candidates C is the
      |  recall knob — exact by construction as C approaches n.
      |- IVF-PQ composes both: the 100 TB steady state reads
      |  ~nprobe/L of a codes-only table.
      |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/ANN_RECALL.md"), md.toString)
    println(md.toString)
    spark.stop()
  }

  /** Scale rung at realistic n (10^5, 10^6): the same clustered
    * generator, but ground truth computed DISTRIBUTED (an exact-L2
    * scan per query — no corpus collect on the driver), sample-bounded
    * codebook training, and the key production compositions only.
    * Appends a rung section to BENCH/ANN_RECALL.md. Run:
    * `runMain graft.tools.AnnRecall 1000000 ladder`. */
  def ladder(n: Int): Unit = {
    val nClusters = 16
    val spark = graft.Bench.mkSession(ToolUtil.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val vecs = spark.range(n).map { i =>
      val c = (i % nClusters).toInt
      val v = Array.tabulate(64) { d =>
        unit(c.toLong + 1000, d) + 0.35 * unit(i + 2000, d)
      }
      (i, v.map(_.toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint()

    val queries = (0 until 10).map(q => (q * (n / 10)).toLong)
    val k = 10
    def qvOf(q: Long): Array[Double] = vecs.where(col("vec_id") === q)
      .select(col("embedding").cast("array<double>")).as[Seq[Double]]
      .head().toArray
    def l2(qv: Array[Double]) = aggregate(
      zip_with(col("embedding").cast("array<double>"), lit(qv),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    // exact ground truth per metric, distributed full scans
    val exactL2: Map[Long, Seq[Long]] = queries.map { q =>
      q -> vecs.where(col("vec_id") =!= q)
        .select(col("vec_id"), l2(qvOf(q)).as("d2"))
        .orderBy(col("d2"), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSeq
    }.toMap
    val exactCos: Map[Long, Seq[Long]] = queries.map { q =>
      q -> Ann.topK(vecs, "vec_id", "embedding", q, k)
        .select("id").as[Long].collect().toSeq
    }.toMap
    def recall(got: Map[Long, Seq[Long]], exact: Map[Long, Seq[Long]]): Double =
      queries.map { q =>
        got(q).toSet.intersect(exact(q).toSet).size.toDouble / k
      }.sum / queries.size

    val centroids = Ann.planes(64, nClusters, seed = 99L)
    // sample-bounded Lloyd training — the 100 TB form
    val books = Ann.trainPqCodebooks(
      vecs, "vec_id", "embedding", m = 8, k = 64, iters = 5, maxTrainRows = 2000L)
    // index built ONCE, queried many — the production steady state:
    // per-query work is the probed codes scan + the C-row rerank
    val assigned = Ann.ivfAssign(vecs, "vec_id", "embedding", centroids)
      .select(col("id"), col("list_id"))
    val codes = Ann.pqEncode(vecs, "vec_id", "embedding", books)
      .join(assigned, "id").localCheckpoint()
    // rerank budget scales with density: 4% of the corpus (near-tie
    // mass inside the PQ quantization radius grows with n at fixed
    // codebook size, so a FIXED C necessarily decays — the honest knob
    // is a corpus fraction; 4% matches the base table's sweet spot and
    // stays under the 5% budget)
    val c = math.max(200, n / 25)

    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
    def timeIt(name: String, frac: Double)(gotOf: Long => Seq[Long]): Unit = {
      val t0 = System.nanoTime()
      val got = queries.map(q => q -> gotOf(q)).toMap
      val perQ = (System.nanoTime() - t0) / 1e9 / queries.size
      val r = recall(got,
        if (name.contains("cosine")) exactCos else exactL2)
      rows += ((name, r, frac, perQ))
      println(f"[annrecall] n=$n $name%-42s recall=$r%.2f frac=${frac * 100}%.2f%% wall/q=$perQ%.2fs")
    }

    timeIt(s"IVF nprobe=4/$nClusters (cosine)", 4.0 / nClusters) { q =>
      Ann.ivfSearch(vecs, "vec_id", "embedding", centroids, q, k, 4)
        .select("id").as[Long].collect().toSeq
    }
    timeIt(s"PQ-ADC + rerank C=$c (2k-sample books)", c.toDouble / n) { q =>
      Ann.pqAdcRerank(vecs.where(col("vec_id") =!= q), "vec_id", "embedding",
        codes.where(col("id") =!= q), books, qvOf(q), k, candidates = c)
        .select("id").as[Long].collect().toSeq
    }
    timeIt(s"IVF-PQ nprobe=4 + rerank C=$c (2k-sample books)", c.toDouble / n) { q =>
      val qv = qvOf(q)
      // probe the 4 nearest lists (same -2qc+|c|^2 shortcut as
      // ivfPqSearch), then ADC-nominate within the prebuilt probed
      // codes and exact-rerank C raw rows
      val probe = centroids.zipWithIndex.map { case (cn, i) =>
        (-2.0 * cn.zip(qv).map { case (a, b) => a * b }.sum +
          cn.map(x => x * x).sum, i)
      }.sortBy(identity).take(4).map(_._2)
      Ann.pqAdcRerank(vecs.where(col("vec_id") =!= q), "vec_id", "embedding",
        codes.where(col("list_id").isin(probe: _*) && col("id") =!= q),
        books, qv, k, candidates = c)
        .select("id").as[Long].collect().toSeq
    }

    val md = new StringBuilder
    md ++= s"\n## Scale rung: n=$n (ladder mode, distributed ground truth)\n\n"
    md ++= "Sample-bounded (2k-row) Lloyd codebooks; exact ground truth via\n"
    md ++= "distributed per-query scans (no corpus collect); IVF lists and PQ\n"
    md ++= "codes prebuilt once (the production steady state — per-query work\n"
    md ++= "is the probed codes scan + the C-row rerank). The rerank budget is\n"
    md ++= "4% of the corpus: near-tie mass inside the PQ quantization radius\n"
    md ++= "grows with n at fixed codebook size, so the honest knob is a\n"
    md ++= "corpus fraction, not a fixed C.\n\n"
    md ++= "| method | recall@10 | raw-vector fraction | wall/q (s) |\n|---|---|---|---|\n"
    rows.foreach { case (name, r, frac, w) =>
      md ++= f"| $name | $r%.2f | ${frac * 100}%.3f%% | $w%.2f |\n"
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH/ANN_RECALL.md"),
      md.toString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    println(md.toString)
    spark.stop()
  }
}
