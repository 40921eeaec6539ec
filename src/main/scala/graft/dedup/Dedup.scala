package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Corpus
import graft.sql.Jobs
import graft.text.TextOps

/** Deduplication operators for the training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash. All
  * hash arithmetic is md5-derived and expressible in ANSI SQL, so every
  * stage has a DuckDB oracle.
  *
  * Scale notes: exact dedup is one shuffle on a 128-bit hash; shingle
  * explosion is the standard shingle->minhash->band->bucket-join
  * pipeline where only band keys (not shingle sets) shuffle for
  * candidate generation; the pair-verification join touches candidates
  * only.
  */
object Dedup {

  /** 32-bit shingle base hash (first 8 md5 hex digits) — kernel
    * digest prefix, bit-identical to
    * `conv(substring(md5(c), 1, 8), 16, 10)`. */
  def hash32(c: Column): Column = graft.sql.Kernel.md5Prefix(c.cast("binary"), 8)

  /** 60-bit token hash (15 md5 hex digits) — kernel digest prefix. */
  def hash60(c: Column): Column = graft.sql.Kernel.md5Prefix(c.cast("binary"), 15)

  /** Word n-gram shingles of the lower-cased text (empty array when the
    * text has fewer than n words). */
  def shingles(text: Column, n: Int = 2): Column = {
    val ws = TextOps.words(text)
    when(size(ws) >= n,
      transform(
        sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(d => element_at(ws, i + d + 1)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: per content hash keep the smallest id
    * (deterministic representative). Returns (h, keep_id, cnt). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("cnt"))

  /** Drop exact duplicates, keeping the smallest id per content hash. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window
      .partitionBy(md5(col(textCol).cast("binary")))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Spread a (possibly single-file, single-partition) input across the
    * session's parallelism before compute-dense per-row work — small
    * dimension tables otherwise serialize md5/shingle work onto one
    * task. The decision reads the optimizer's size estimate (no RDD
    * conversion, no plan execution): inputs big enough to already split
    * into >= target scan partitions pass through untouched, so a 100 TB
    * corpus never pays a gratuitous repartition shuffle here. */
  private def parallelize(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    val bytesPerPart = math.max(conf.filesMaxPartitionBytes, 1L)
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val estParts = (estBytes / bytesPerPart).min(Int.MaxValue).toLong
    if (estParts >= target) df else df.repartition(target)
  }

  /** Per-(band, key) bucket sizes of an LSH banding — the skew profile
    * of the candidate join. Buckets above `maxBucketSize` are the ones
    * [[minhashCandidates]] drops; query this to see what a cap costs
    * (no silent truncation: the drop is observable). */
  def bandBucketSizes(exploded: DataFrame): DataFrame =
    exploded.groupBy("band", "key").agg(count(lit(1)).as("bucket_size"))

  /** Filter an exploded (id, band, key) banding down to buckets of at
    * most `maxBucketSize` members. A bucket with f members contributes
    * f*(f-1)/2 candidate pairs — unbounded hot buckets (empty docs,
    * boilerplate, near-constant signatures) turn the self-join
    * quadratic at corpus scale; capping them keeps candidate counts
    * linear while exact/cheaper paths (exact dedup) still catch the
    * identical-content case. The cap is part of the operator contract,
    * mirrored in the SQL oracles.
    *
    * Implemented as `count(*) OVER (PARTITION BY band, key)` — the
    * bucket size rides the SAME (band, key) exchange the candidate
    * self-join needs, so the expensive signature pipeline upstream
    * executes exactly once: the join's two sides reuse that one
    * shuffle (ReusedExchange), where the former size-aggregate +
    * semi-join form re-traversed the whole pipeline per reference
    * (measured 6-12x on the sf0.1 bench). */
  private def capBuckets(exploded: DataFrame, maxBucketSize: Long): DataFrame = {
    if (maxBucketSize <= 0) return exploded
    exploded
      .withColumn(
        "__bucket_size",
        count(lit(1)).over(Window.partitionBy("band", "key")))
      .where(col("__bucket_size") <= maxBucketSize)
      .drop("__bucket_size")
  }

  /** Per-doc distinct hashed-shingle array (hash32 of each shingle —
    * the same 32-bit md5 hash the MinHash kernel and every oracle use),
    * sorted by (global document frequency asc, hash asc) — the
    * rarest-first total order that prefix filtering requires — plus the
    * set size. Long arrays shuffle ~8x smaller than string shingles and
    * intersect without hashing strings per pair. Shingles above the
    * document-frequency cap are dropped first (a shingle shared by f
    * docs adds f^2/2 join pairs and no near-dup signal; cap and hash
    * are part of the operator contract, mirrored in the oracle).
    * Precondition: one row per `idCol` value (every caller passes a
    * document table) — the per-doc distinct runs row-locally in the
    * shingle kernel, so duplicate-id rows would no longer be merged
    * the way the old corpus-wide `.distinct()` merged them. */
  def shingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      maxDocFreq: Long = 1000L): DataFrame = {
    // fused words -> shingle-hash kernel: the digest is fed word bytes
    // and separators directly (no shingle-string allocation, no hex
    // round trip); values identical to hash32(explode(shingles(...))).
    // The per-document DISTINCT is row-local set semantics, so it runs
    // inside the kernel — the former corpus-wide `.distinct()` paid a
    // full (id, h) exchange just to dedup within each document.
    val shingleHashes =
      graft.sql.Kernel.shingleHash32(TextOps.words(col(textCol)), n, distinct = true)
    val ds0 = parallelize(df)
      .select(col(idCol).as("id"), explode(shingleHashes).as("h"))
    val dfreq = ds0.groupBy("h").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDocFreq)
    ds0.join(dfreq, Seq("h"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("__df"), col("h")))).as("__arr"))
      .select(
        col("id"),
        transform(col("__arr"), e => e.getField("h")).as("sa"),
        size(col("__arr")).as("sz"))
  }

  /** Exact Jaccard over candidate pairs: each side joins its sorted
    * shingle array once; |A ∩ B| is per-row array math, no re-join of
    * the inverted index. The intersection count runs as a codegen
    * merge-walk over value-sorted arrays (zero per-pair allocation) —
    * the per-doc value sort happens once on the sets side before the
    * join, never per candidate pair. Emits (da, db, common,
    * jaccard_e6) >= min. */
  def jaccardScore(cands: DataFrame, sets: DataFrame, minJaccardE6: Long): DataFrame = {
    val byValue = sets.select(col("id"), sort_array(col("sa")).as("sv"), col("sz"))
    val common = graft.sql.Kernel.sortedIntersectCount(col("__sa"), col("__sb"))
    cands
      .join(byValue.select(col("id").as("da"), col("sv").as("__sa"), col("sz").as("na")), "da")
      .join(byValue.select(col("id").as("db"), col("sv").as("__sb"), col("sz").as("nb")), "db")
      .select(
        col("da"), col("db"),
        common.as("common"),
        col("na"), col("nb"))
      .select(
        col("da"), col("db"), col("common"),
        floor(lit(1000000.0) * col("common") /
          (col("na") + col("nb") - col("common"))).cast("long").as("jaccard_e6"))
      .where(col("jaccard_e6") >= minJaccardE6)
  }

  /** n-gram Jaccard near-dup pairs: exact output (all pairs with
    * J >= t over the df-capped shingle universe), computed with
    * PPJoin-style prefix filtering [Xiao et al., WWW'08]: under any
    * global token order, J(A,B) >= t implies A and B share a token in
    * their first |X| - ceil(t*|X|) + 1 tokens — so only those prefix
    * tokens enter the inverted-index self-join. With rarest-first
    * ordering the high-frequency shingles (the f^2/2 blowup) never
    * reach the join. A length filter (t*|B| <= |A| <= |B|/t) prunes
    * further. Lossless: scoring is exact on the surviving candidates. */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      minJaccardE6: Long = 500000L,
      maxDocFreq: Long = 1000L): DataFrame = {
    // cache() the sets relation (two groupBy aggregations over the
    // exploded shingle universe feed the prefix self-join AND both
    // scoring joins): columnar InMemoryRelation scans are ~2.5x faster
    // here than a localCheckpointed RDD scan (measured 2.5 s vs 6 s at
    // sf0.1). The no-pin contract still holds — see the eager
    // localCheckpoint + unpersist at the end of this method.
    val sets = shingleSets(df, idCol, textCol, n, maxDocFreq).cache()
    // Exact-integer prefilters: a double t = minJaccardE6/1e6 can round
    // ABOVE the true threshold (0.1 → 0.100000…0555), making ceil(t*sz)
    // one too large / the length filter one too strict and silently
    // dropping exact-boundary pairs the contract promises. ceilDiv and
    // the cross-multiplied comparisons below are the same math with no
    // rounding (products stay far under 2^63).
    def ceilDivE6(x: Column): Column =
      call_function("div", x * minJaccardE6 + lit(999999L), lit(1000000L))
    val prefixLen = (col("sz") - ceilDivE6(col("sz")) + 1).cast("int")
    val prefix = sets.select(
      col("id"), col("sz"),
      posexplode(slice(col("sa"), lit(1), prefixLen)).as(Seq("p", "s")))
    // positional filter: taking each pair's FIRST shared token (minimal
    // in the global order — tokens below it are disjoint by minimality),
    // the overlap is at most 1 + min(|A|-pa, |B|-pb); J >= t needs
    // overlap >= ceil(t/(1+t) * (|A|+|B|)).
    val cands = prefix.as("a")
      .join(
        prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.sz") * 1000000L >= lit(minJaccardE6) * col("b.sz") &&
          col("b.sz") * 1000000L >= lit(minJaccardE6) * col("a.sz"))
      .groupBy(col("a.id").as("da"), col("b.id").as("db"))
      .agg(
        min(col("a.p") + 1).as("pa"), min(col("b.p") + 1).as("pb"),
        first(col("a.sz")).as("sza"), first(col("b.sz")).as("szb"))
      .where(
        // overlap >= ceil(t/(1+t) * (|A|+|B|)) for integer overlap is
        // exactly overlap * (1e6 + minE6) >= minE6 * (|A|+|B|)
        (lit(1) + least(col("sza") - col("pa"), col("szb") - col("pb"))) *
          lit(1000000L + minJaccardE6) >=
          lit(minJaccardE6) * (col("sza") + col("szb")))
      .select("da", "db")
    // materialize the SMALL result (near-dup pairs) eagerly and release
    // the big cached sets relation before returning: callers get a
    // lineage-free relation and the cacheManager is left unpinned (the
    // same leak contract clusters' distributed branch keeps)
    try Jobs.described(df.sparkSession, "Dedup.jaccardPairs") {
      jaccardScore(cands, sets, minJaccardE6).localCheckpoint()
    } finally sets.unpersist()
  }

  /** Deterministic MinHash permutation coefficients (odd a). */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map { j =>
      val a = (Corpus.splitmix64(j.toLong) & 0x7fffffffL) | 1L
      val b = Corpus.splitmix64(j.toLong + 1000L) & 0x7fffffffL
      (a, b)
    }

  val MinhashPrime: Long = 4294967311L // smallest prime > 2^32

  /** Per-doc MinHash signature as ONE array column: a single fold over
    * the shingle-hash array updates all k minima simultaneously, so the
    * md5 base hash is computed exactly once per shingle (k separate
    * `array_min(transform(...))` columns would re-evaluate the md5
    * pipeline k times — measured 16x slower). No shuffle. */
  def minhashSigArray(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      n: Int = 2): DataFrame = {
    // words -> digest-direct shingle hashes -> k mins, one kernel pass
    // (no shingle strings); values identical to
    // Kernel.minhashSig(shingles(text, n), k)
    val sig = graft.sql.Kernel.minhashSigWords(col("__ws"), k, n)
    // row-set filter via the short-circuit count kernel: the collapsed
    // plan evaluates the filter and the sig projection in separate
    // operators, and size(words(text)) in the Filter paid a second full
    // tokenization per row (no cross-operator CSE) — countWordsAtLeast
    // is the same run scan, stopping at the nth word. Row set identical
    // (KernelParitySpec property pin, Unicode included).
    parallelize(df)
      .withColumn("__ws", TextOps.words(col(textCol)))
      .where(graft.sql.Kernel.wordCountAtLeast(col(textCol), n))
      .select(col(idCol).as("id"), sig.as("sig"))
  }

  /** MinHash signature columns s0..s{k-1}: direct element extraction
    * from the signature array — whole-stage-codegen subexpression
    * elimination evaluates the kernel once per row (measured: 16
    * extractions cost the same as the bare array projection). */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      n: Int = 2): DataFrame =
    minhashSigArray(df, idCol, textCol, k, n).select(
      (col("id") +: (0 until k).map(j => element_at(col("sig"), j + 1).as(s"s$j"))): _*)

  /** The (id, band, key) explode of [[minhashCandidates]]'s banding,
    * exposed so bucket-size distributions are observable (feed to
    * [[bandBucketSizes]]). */
  def minhashBandExplode(sigs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    // bands must tile the signature exactly: a remainder would silently
    // drop the trailing rows from every band key (weaker LSH than
    // configured), and bands > k degenerates to rows = 0 — every doc in
    // ONE all-colliding empty-key bucket per band, which the size cap
    // then drops entirely (zero candidates, silently)
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws("-", (0 until rows).map(r => col(s"s${b * rows + r}")): _*)
          .as("key"))
    }
    sigs
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** LSH banding: split the signature into `bands` bands of
    * `k / bands` rows; docs sharing any full band become candidates.
    * Only (band_idx, band_key) shuffles. Buckets larger than
    * `maxBucketSize` are dropped before the self-join (see
    * [[bandBucketSizes]] for observing what a cap drops) — without the
    * cap a single degenerate band key with f members yields f^2/2
    * pairs, the classic LSH production fire at corpus scale. */
  def minhashCandidates(
      sigs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      maxBucketSize: Long = 1000L): DataFrame = {
    // no cache needed: capBuckets' window puts a (band, key) exchange
    // directly under both self-join sides; Spark's exchange reuse runs
    // the shingle->minhash pipeline once and replays the shuffle files
    // for the second side (cheaper than a cache at corpus scale — no
    // storage-memory pin, no unpersist contract)
    val exploded = capBuckets(minhashBandExplode(sigs, k, bands), maxBucketSize)
    exploded.as("a")
      .join(
        exploded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
  }

  /** Full MinHash+LSH near-dup pipeline: candidates verified by exact
    * Jaccard. */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      bands: Int = 4,
      n: Int = 2,
      minJaccardE6: Long = 500000L): DataFrame = {
    val cands = minhashCandidates(minhashSignatures(df, idCol, textCol, k, n), k, bands)
    // exact-verify ONLY the LSH candidates (array math per pair) —
    // never the full all-pairs jaccard
    jaccardScore(cands, shingleSets(df, idCol, textCol, n), minJaccardE6)
  }

  /** Connected-component clustering of near-dup pairs: every doc in a
    * component gets the component's minimum id as its cluster id (the
    * canonical keep-one-per-cluster dedup step). Iterative min-label
    * propagation — each round joins labels across edges and keeps the
    * elementwise minimum; converges in O(diameter) rounds, checked via
    * a count of changed labels (the standard large-graph CC pattern:
    * only (id, label) pairs shuffle). */
  def clusters(
      pairs: DataFrame,
      idA: String = "da",
      idB: String = "db",
      localEdgeLimit: Long = 1L << 22): DataFrame =
    // its count, collect, label loop and localCheckpoint are eager jobs
    Jobs.described(pairs.sparkSession, "Dedup.clusters")(
      connectedComponents(pairs, idA, idB, localEdgeLimit))

  private def connectedComponents(
      pairs: DataFrame,
      idA: String,
      idB: String,
      localEdgeLimit: Long): DataFrame = {
    val spark = pairs.sparkSession
    // the union-find shortcut has typed fast paths for integral and
    // string ids (string min/least follows UTF8String binary order —
    // Spark's ordering — not java.lang.String UTF-16 order); other id
    // types take the generic distributed loop
    val integralIds = Seq(idA, idB).forall { c =>
      pairs.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
    }
    val stringIds = Seq(idA, idB).forall { c =>
      pairs.schema(c).dataType == org.apache.spark.sql.types.StringType
    }
    val undirected = pairs
      .select(
        (if (integralIds) col(idA).cast("long") else col(idA)).as("a"),
        (if (integralIds) col(idB).cast("long") else col(idB)).as("b"))
      .distinct()
      .cache()
    val edgeCount =
      if (integralIds || stringIds) undirected.count() else Long.MaxValue
    if (edgeCount <= localEdgeLimit) {
      // Near-dup edge sets are a tiny fraction of the corpus (the pairs
      // already survived LSH banding + verification), so the standard
      // large-graph pattern applies: iterate distributed only while the
      // graph is big, finish with driver union-find once edges fit in
      // driver memory (2^22 edges stay in the low hundreds of MB; above
      // the limit the O(diameter) label loop below takes over). String
      // ids previously always took the distributed loop — for a
      // near-dup edge set that is several rounds of join+aggregate jobs
      // to label a graph that fits in one driver array (q57's ~160
      // string edges spent ~2s there).
      import spark.implicits._
      def unionFind[T](es: Array[(T, T)], lessThan: (T, T) => Boolean)(
          implicit ord: Ordering[T]): Seq[(T, T)] = {
        val parent = scala.collection.mutable.HashMap.empty[T, T]
        def find(x: T): T = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a)
          val rb = find(b)
          // union by min id: the component minimum is always a root, so
          // every final root IS the component's min id (the contract)
          if (ra != rb) {
            if (lessThan(ra, rb)) parent(rb) = ra else parent(ra) = rb
          }
        }
        parent.keys.toSeq.sorted.map(id => (id, find(id)))
      }
      if (integralIds) {
        val es = undirected.as[(Long, Long)].collect()
        undirected.unpersist()
        return unionFind[Long](es, _ < _).toDF("id", "cluster_id")
      } else {
        // Spark's min/least on strings orders by UTF8String binary
        // comparison (byte-wise unsigned = code-point order); mirror it
        // exactly so the shortcut agrees with the distributed loop on
        // every id set, supplementary characters included
        val utf8Lt = (a: String, b: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
        implicit val utf8Ord: Ordering[String] =
          (a: String, b: String) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(a)
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
        val es = undirected.as[(String, String)].collect()
        undirected.unpersist()
        return unionFind[String](es, utf8Lt).toDF("id", "cluster_id")
      }
    }
    val edges = undirected
      .unionAll(undirected.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .cache()
    var labels = edges.select(col("a").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .cache()
    var cachedHandle = labels // exact cached plan, for unpersist
    var changed = 1L
    while (changed > 0) {
      val propagated = edges
        .join(labels.withColumnRenamed("id", "b").withColumnRenamed("label", "nl"), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min("nl").as("nl"))
      // carry a per-row "label shrank" flag so convergence detection is
      // an aggregate over the SAME cached relation — one job per round,
      // not a second labels-vs-labels join job
      val next = labels
        .join(propagated, Seq("id"), "left")
        .select(
          col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          (col("nl") < col("label")).as("__chg"))
        .cache()
      changed = next.where(col("__chg")).count()
      cachedHandle.unpersist()
      cachedHandle = next
      labels = next.drop("__chg")
    }
    edges.unpersist()
    undirected.unpersist()
    // materialize the converged labels OFF the loop cache before
    // returning, then release it — otherwise the final round's cached
    // relation stays pinned in the session's cache manager until
    // session end (one leaked pin per call). localCheckpoint truncates
    // the lineage to the materialized blocks, so the returned frame no
    // longer references the unpersisted cache.
    val out = labels
      .select(col("id"), col("label").as("cluster_id"))
      .localCheckpoint()
    cachedHandle.unpersist()
    out
  }

  /** 60-bit SimHash: md5-derived word hashes vote per bit position;
    * bit k of the signature is 1 iff the sum of votes is positive.
    * Row-local kernel (graft.sql.TextKernels.simhash60): the votes of
    * one document depend only on that document's words, so the former
    * explode + groupBy(id) + 60-conditional-sum aggregate — a full
    * (id, word-hash) exchange of corpus token volume — collapses to
    * one expression per row with zero shuffle. Values identical
    * (multiplicity-weighted votes, strict-positive bit rule); docs
    * with no words drop out exactly as the explode dropped them. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = graft.sql.Kernel.simhash60(col("__ws"))
    // short-circuit count kernel for the row-set filter — same rationale
    // as minhashSigArray (Filter/Project don't share the tokenization)
    df.where(graft.sql.Kernel.wordCountAtLeast(col(textCol), 1))
      .select(col(idCol).as("id"), TextOps.words(col(textCol)).as("__ws"))
      .select(col("id"), sig.as("simhash"))
  }

  /** Hamming distance between two 60-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two equal-length `array<long>` wide
    * signatures (bit k lives in element k/64 at position k%64):
    * per-element xor popcounts summed — one codegen kernel loop
    * (values identical to the zip_with/aggregate fold it replaces,
    * which was CodegenFallback and allocated a per-row int array). */
  def hammingWide(a: Column, b: Column): Column = graft.sql.Kernel.hammingWide(a, b)

  /** Per-band bit widths of the [[hammingBandExplode]] layout:
    * `maxHamming + combine` bands of `bits / bands` bits each, the
    * division remainder folded into the LAST band. The single source of
    * the layout — the explode, [[combineForCount]] and
    * [[autoBucketCap]] all derive subset key widths from it, so the
    * sizers' feasibility/expectation math can never diverge from the
    * keys the explode actually packs. */
  def bandWidths(bits: Int, maxHamming: Int, combine: Int): IndexedSeq[Int] = {
    val bands = maxHamming + combine
    val width = bits / bands
    require(width >= 1, s"maxHamming=$maxHamming too large for $bits-bit signatures")
    (0 until bands).map(b => if (b == bands - 1) bits - b * width else width)
  }

  /** Narrowest possible `combine`-subset key of the layout (sum of the
    * `combine` smallest band widths) — the conservative width for
    * expected-bucket math: the widest random-collision buckets live
    * under the narrowest keys. */
  private def minSubsetBits(bits: Int, maxHamming: Int, combine: Int): Int =
    bandWidths(bits, maxHamming, combine).sorted.take(combine).sum

  /** Widest possible `combine`-subset key (includes the
    * remainder-widened last band) — the width the narrow-signature
    * explode's `require(keyBits <= 62)` actually sees. */
  private def maxSubsetBits(bits: Int, maxHamming: Int, combine: Int): Int =
    bandWidths(bits, maxHamming, combine).sorted.takeRight(combine).sum

  /** Generic hamming-banded near-dup pair join over an integer
    * signature column — a single `long` (bits <= 64) or an
    * `array<long>` WIDE signature (bit k in element k/64 at position
    * k%64; e.g. 256-bit PDQ-style perceptual hashes as 4 longs, the
    * production layout once 64-bit keys saturate: at 10^8+ rows the
    * 16-bit bands of a 64-bit/maxHamming=3 signature go
    * candidate-quadratic — measured in BENCH/DEDUP_SCALE.md — while a
    * 256-bit signature's 64-bit bands keep expected buckets O(1) out to
    * 10^12 rows). Wide band keys are xxhash64 over the band's bit
    * slices: equal bands hash equal so the recall guarantee below is
    * untouched, and hash collisions only add candidates that the exact
    * distance verify removes. Blocks on `maxHamming + 1` disjoint bit bands (by
    * pigeonhole, a pair within hamming distance `maxHamming` agrees
    * exactly on at least one band — guaranteed recall, no probabilistic
    * miss), verify candidates by `bit_count(xor)`. Shuffles (id, long)
    * band keys only, never the underlying payloads. Band buckets larger
    * than `maxBucketSize` are dropped before the self-join (the same
    * quadratic-hot-bucket guard as [[minhashCandidates]], computed as a
    * window count in the SAME shuffle — single execution of the
    * signature pipeline).
    *
    * Band width is `bits / (maxHamming+1)` with the remainder folded
    * into the last band. Scale note: the recall guarantee prices wider
    * tolerance as narrower keys (key space `2^width`), so expected
    * bucket size grows as `n / 2^width` — at billions of rows either
    * lower `maxHamming` (wider keys, e.g. 3 → 16-bit bands on 64-bit
    * signatures) or accept the cap dropping the hottest buckets; sizes
    * are observable via the same `bandBucketSizes` pattern, nothing is
    * truncated silently.
    *
    * `collapseIdentical = true` bands over DISTINCT signatures and
    * expands matches back to member ids — same output contract, but the
    * cap then counts signature diversity instead of row multiplicity:
    * identical-signature groups (the dominant hot-bucket cause at
    * corpus scale) can never be capped away, and banding volume drops
    * to distinct-signatures × bands.
    *
    * `combine = r > 1` switches to the multi-index layout: `maxHamming
    * + r` base bands, one packed key per r-subset (C(maxHamming+r, r)
    * keys/row). The pigeonhole guarantee survives (≤ maxHamming bands
    * carry errors ⇒ ≥ r clean bands ⇒ some subset matches exactly)
    * while the key space widens from 2^(bits/(h+1)) to ~2^(r·bits/(h+r))
    * — the lever when plain bands saturate (measured: 100M 64-bit sigs
    * at maxHamming=3 give 1526-deep 16-bit buckets and a ~10^11-pair
    * self-join; r=2's 24-bit subset keys hold expected buckets at ~6).
    * See [[hammingPairsAuto]] for the stats-sized composition of both
    * levers. */
  def hammingPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      bits: Int,
      maxHamming: Int,
      maxBucketSize: Long,
      collapseIdentical: Boolean = false,
      combine: Int = 1): DataFrame = {
    val rows = sigs.select(col(idCol).as("id"), col(sigCol).as("__sig"))
    val dist: (Column, Column) => Column =
      if (isWideSig(rows, "__sig")) hammingWide else hamming
    if (!collapseIdentical) {
      val banded = capBuckets(
        hammingBandExplode(rows, bits, maxHamming, combine = combine),
        maxBucketSize)
      banded.as("a")
        .join(
          banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(
          col("a.id").as("da"), col("b.id").as("db"),
          dist(col("a.__sig"), col("b.__sig")).as("dist"))
        // verify BEFORE distinct: dist is a pure function of the pair, so
        // the result is identical, but the dedup exchange now carries
        // only surviving near-dups instead of every band-collision
        // candidate (the dominant row class in hot-bucket regimes)
        .where(col("dist") <= maxHamming)
        .distinct()
    } else {
      // Collapse identical signatures BEFORE banding: the dominant
      // hot-bucket cause at corpus scale is massive identical-signature
      // groups (exact dups, boilerplate, constant images), which under
      // raw banding either blow the self-join up quadratically or get
      // capped away (silent recall loss for exactly the easiest dups).
      // Banding over DISTINCT signatures makes the cap count signature
      // diversity, not row multiplicity: identical-content pairs can
      // never be lost to the cap, and banding volume drops from
      // n×bands to u×bands rows (u = distinct signatures). The
      // signature value doubles as its own join id.
      val uniq = rows.select(col("__sig").as("id"), col("__sig")).distinct()
      val banded = capBuckets(
        hammingBandExplode(uniq, bits, maxHamming, combine = combine),
        maxBucketSize)
      val sigPairs = banded.as("a")
        .join(
          banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(
          col("a.__sig").as("sa"), col("b.__sig").as("sb"),
          dist(col("a.__sig"), col("b.__sig")).as("dist"))
        .where(col("dist") <= maxHamming) // verify before the dedup exchange
        .distinct()
      // distance-0 pairs: expand each identical-signature group
      // directly (output-bound, no banding involved)
      val intra = rows.as("a")
        .join(
          rows.as("b"),
          col("a.__sig") === col("b.__sig") && col("a.id") < col("b.id"))
        .select(
          col("a.id").as("da"), col("b.id").as("db"),
          lit(0).cast("int").as("dist"))
      // cross-signature pairs: expand the distinct-signature matches
      // back to member ids
      val cross = sigPairs
        .join(rows.as("ma"), col("sa") === col("ma.__sig"))
        .join(rows.as("mb"), col("sb") === col("mb.__sig"))
        .select(
          least(col("ma.id"), col("mb.id")).as("da"),
          greatest(col("ma.id"), col("mb.id")).as("db"),
          col("dist"))
      intra.unionByName(cross)
    }
  }

  /** The (id, band, key) explode shared by both [[hammingPairs]] modes:
    * `maxHamming + 1` disjoint bit bands, remainder folded into the
    * last band. Exposed for bucket-size observation via
    * [[bandBucketSizes]]. */
  def hammingBandExplode(
      sigs: DataFrame,
      bits: Int,
      maxHamming: Int,
      idCol: String = "id",
      sigCol: String = "__sig",
      combine: Int = 1): DataFrame = {
    val rows = sigs.select(col(idCol).as("id"), col(sigCol).as("__sig"))
    require(combine >= 1, "combine must be >= 1")
    val wide = isWideSig(rows, "__sig")
    val widths = bandWidths(bits, maxHamming, combine)
    val bands = widths.length
    val starts = widths.scanLeft(0)(_ + _)
    // value of base band b of a single-long signature, masked so the
    // arithmetic shiftright is safe for negative (full 64-bit) values
    def bandVal(b: Int): Column = {
      val w = widths(b)
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      shiftright(col("__sig"), starts(b)).bitwiseAND(mask)
    }
    // 64-bit-aligned slices of wide-signature bit range
    // [lo, lo + w): bit k of the signature is bit k%64 of element
    // k/64 (1-based element_at). A band wider than a long, or one
    // straddling an element boundary, simply yields several slice
    // columns — the key hashes them together, so nothing ever has to
    // fit in one long.
    def wideSlices(lo: Int, w: Int): Seq[Column] = {
      val out = Seq.newBuilder[Column]
      var pos = lo
      val end = lo + w
      while (pos < end) {
        val off = pos % 64
        val take = math.min(64 - off, end - pos)
        val mask = if (take >= 64) -1L else (1L << take) - 1L
        out += shiftrightunsigned(element_at(col("__sig"), pos / 64 + 1), off)
          .bitwiseAND(mask)
        pos += take
      }
      out.result()
    }
    // Wide keys are xxhash64 over the band's raw slices: equal band
    // values hash equal, so the pigeonhole recall guarantee is
    // untouched; a 64-bit hash collision only ADDS a candidate pair,
    // which the exact distance verify removes. This sidesteps the
    // narrow path's 62-bit packed-key ceiling entirely.
    def wideKey(bandIdxs: Seq[Int]): Column =
      xxhash64(bandIdxs.flatMap(b => wideSlices(starts(b), widths(b))): _*)
    val bandKeys =
      if (combine == 1)
        (0 until bands).map { b =>
          val key = if (wide) wideKey(Seq(b)) else bandVal(b)
          struct(lit(b).as("band"), key.as("key"))
        }
      else {
        // multi-index form (Norouzi et al., "Fast Search in Hamming
        // Space with Multi-Index Hashing"): every `combine`-subset of
        // the maxHamming+combine bands becomes one packed wide key. At
        // most maxHamming bands can carry an error, so >= combine bands
        // are clean and SOME subset matches exactly — the recall
        // guarantee survives, with key space 2^(combine*width) instead
        // of 2^width.
        val subsets = (0 until bands).combinations(combine).toSeq
        subsets.zipWithIndex.map { case (s, i) =>
          val key =
            if (wide) wideKey(s)
            else {
              val keyBits = s.map(widths).sum
              require(keyBits <= 62, s"combined key of $keyBits bits overflows a long")
              s.foldLeft(lit(0L): Column) { (acc, b) =>
                shiftleft(acc, widths(b)).bitwiseOR(bandVal(b))
              }
            }
          struct(lit(i).as("band"), key.as("key"))
        }
      }
    rows
      .select(col("id"), col("__sig"), explode(array(bandKeys: _*)).as("bk"))
      .select(
        col("id"), col("__sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** True when the signature column is an `array<long>` wide signature
    * rather than a single long. */
  private def isWideSig(rows: DataFrame, sigCol: String): Boolean =
    rows.schema(sigCol).dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]

  /** Pick the multi-index `combine` factor for [[hammingPairs]] from a
    * row estimate: the smallest r whose combined key space keeps the
    * expected random-collision bucket at or under `targetBucket`. Keys
    * per row grow as C(maxHamming+r, r), so r stops where either the
    * expectation is met, the key overflows a long, or the per-row key
    * count exceeds `maxKeysPerRow`. r=1 is the plain disjoint-band
    * layout.
    *
    * The default crossover is deliberately late (2048): stepping r up
    * multiplies the exploded banding volume by C(h+r, r)/(h+1) rows
    * through the exchange's shuffle AND sort, while moderate buckets
    * are cheap — candidate pairs are generated and filtered inside the
    * codegen'd merge join at ~25M pairs/s/core. Measured on the
    * dedup scale ladder (64-bit sigs, maxHamming=3, local[32]): λ=153
    * buckets at 10M rows run FASTER under r=1 (14.5 s) than r=2's
    * 2.5x explode (53 s), and even λ=1526 at 100M rows — a ~3x10^11
    * candidate join — still favors r=1 (392 s vs r=2's 687 s): sorted
    * exchange volume, not the in-join hamming filter, is the cost
    * driver on both a single box and a network-shuffling cluster. The
    * multi-index escape hatch is for the truly quadratic regime
    * (λ ≳ several thousand, e.g. 10^9+ rows at 16-bit keys). */
  def combineForCount(
      rows: Long,
      bits: Int,
      maxHamming: Int,
      targetBucket: Long = 2048L,
      maxKeysPerRow: Long = 64L,
      wide: Boolean = false): Int = {
    def keysPerRow(r: Int): Long =
      (1 to r).foldLeft(1L)((a, i) => a * (maxHamming + r - i + 1) / i)
    var r = 1
    while ({
      // expectation from the NARROWEST subset key the layout packs
      // (the widest random buckets live there); feasibility from the
      // WIDEST (the remainder-widened last band) — both via the same
      // bandWidths the explode uses. Wide (array<long>) signatures
      // hash their keys, so the 62-bit packing ceiling vanishes and
      // key entropy tops out at the 64-bit hash.
      val keyBits =
        math.min(if (wide) 64 else 62, minSubsetBits(bits, maxHamming, r))
      val expected = rows.toDouble / math.pow(2.0, keyBits)
      val widthNext = bits / (maxHamming + r + 1)
      expected > targetBucket && widthNext >= 1 &&
      (wide || maxSubsetBits(bits, maxHamming, r + 1) <= 62) &&
      keysPerRow(r + 1) <= maxKeysPerRow
    }) r += 1
    r
  }

  /** Bucket cap sized from a row estimate, the [[graft.ann.Ann.planesForCount]]
    * counterpart for hamming banding: `headroom ×` the expected
    * random-collision bucket size `rows / 2^keyBits` (floor 64), where
    * the key width follows the band layout (`combine` mirrors
    * [[hammingPairs]]' multi-index factor). Buckets within `headroom`
    * of the uniform expectation are data, buckets beyond it are
    * degenerate signature mass the cap should drop. The single source
    * of the cap formula — [[hammingPairsAuto]] and the dedup ladder's
    * diagnostics both call it. */
  def autoBucketCap(
      rows: Long,
      bits: Int,
      maxHamming: Int,
      headroom: Long = 32L,
      combine: Int = 1,
      wide: Boolean = false): Long = {
    val keyBits =
      math.min(if (wide) 64 else 62, minSubsetBits(bits, maxHamming, combine))
    val expected =
      math.max(1L, math.ceil(rows.toDouble / math.pow(2.0, keyBits)).toLong)
    math.max(64L, headroom * expected)
  }

  /** [[hammingPairs]] with the bucket cap derived from the optimizer's
    * row estimate (CBO row count when available, else a bytes/row
    * heuristic — the same stats-driven sizing as
    * [[graft.ann.Ann.nearDupPairs]]'s auto plane mode) and identical
    * signatures collapsed before banding. Only the COST hangs on the
    * estimate, never the recall guarantee: the cap counts distinct
    * signatures per bucket, so identical-content pairs survive any cap,
    * and the estimate only moves which degenerate diverse buckets get
    * dropped.
    *
    * Lineage note: the collapse path scans `sigs` up to three times
    * (distinct, intra-group join, expansion) — materialize the
    * signature relation first (cache/localCheckpoint, as q57 does for
    * pHash) when its lineage is expensive (image decode, shingling). */
  def hammingPairsAuto(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      bits: Int,
      maxHamming: Int,
      headroom: Long = 32L): DataFrame = {
    val sel = sigs.select(idCol, sigCol)
    val wide = isWideSig(sel, sigCol)
    val plan = sel.queryExecution.optimizedPlan
    // bytes/row heuristic: a (long id, long sig) row is ~16 bytes; a
    // wide array<long> signature adds 8 bytes per element plus array
    // overhead — only the COST sizing hangs on this, never recall
    val bytesPerRow = if (wide) 16L + 8L * ((bits + 63) / 64) else 16L
    val est = plan.stats.rowCount
      .map(_.min(BigInt(Long.MaxValue)).toLong)
      .getOrElse(
        (plan.stats.sizeInBytes / bytesPerRow).max(BigInt(1))
          .min(BigInt(Long.MaxValue)).toLong)
    // multi-index factor first (keeps EXPECTED buckets small — the
    // key-space lever), then the cap sized to the chosen layout (drops
    // DEGENERATE buckets only)
    val r = combineForCount(est, bits, maxHamming, wide = wide)
    hammingPairs(
      sigs, idCol, sigCol, bits, maxHamming,
      autoBucketCap(est, bits, maxHamming, headroom, r, wide),
      collapseIdentical = true,
      combine = r)
  }

  /** Canonical-representative selection — the "keep" policy of a
    * production dedup sweep: given near-dup `pairs` (da, db) over
    * `docs`, cluster them (connected-component min label via
    * [[clusters]]) and keep exactly one member per cluster — the
    * highest `scoreCol`, ties to the smallest id. Docs in no pair form
    * their own singleton cluster and keep themselves. Returns one row
    * per input doc: (id, cluster_id, keep).
    *
    * Scale: one left join on id plus one window partitioned by
    * cluster_id; a cluster is a near-dup group, so the window's
    * partitions are bounded by the largest dup group, never the corpus.
    */
  def keepRepresentatives(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    val cl = clusters(pairs)
    val labeled = docs
      .select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(cl, Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("id")))
    val w = Window
      .partitionBy("cluster_id")
      .orderBy(col("__score").desc, col("id"))
    labeled
      .withColumn("__rk", row_number().over(w))
      .select(col("id"), col("cluster_id"), (col("__rk") === 1).as("keep"))
  }

  /** Burst-photo sessionization over capture metadata: consecutive
    * shots from the same device whose capture times are ≤ `gapSeconds`
    * apart share a burst (`burst_seq`, 1-based per device). The
    * metadata-side prefilter for image near-dup — a burst is where
    * near-identical frames concentrate, so downstream pHash pairing
    * scoped to (or prioritized by) bursts touches a tiny fraction of
    * the cross-device candidate space. Feed `tsCol` from
    * [[graft.multimodal.Multimodal.exifMeta]]'s DateTime — string
    * columns are parsed with the EXIF "yyyy:MM:dd HH:mm:ss" format
    * (a plain cast would null them all out silently); timestamp and
    * numeric columns are used as-is. Remember to orientation-normalize
    * before hashing — burst shots are exactly where rotated-camera
    * frames of one scene appear.
    *
    * One shuffle on `deviceCol`; the break flag and its running sum
    * share a single Window exec (same partitioning + ordering). The
    * per-device partition is bounded by one camera's write volume
    * (~10^5 shots); for unbounded per-device histories compose the
    * partition key with a coarse time bucket (bursts don't span days)
    * exactly as the streaming sessionizer does with watermarks. */
  def burstSessionize(
      media: DataFrame,
      idCol: String,
      deviceCol: String,
      tsCol: String,
      gapSeconds: Long = 10L): DataFrame = {
    // EXIF DateTime arrives as the string "yyyy:MM:dd HH:mm:ss" —
    // cast("long") on that is null for EVERY row (non-ANSI cast), which
    // would silently make each shot its own burst. Parse string inputs
    // with the EXIF format; numeric/timestamp inputs cast as before.
    // Unparseable strings stay null → singleton bursts, deterministic.
    val isString =
      media.schema(tsCol).dataType == org.apache.spark.sql.types.StringType
    val tsLong: Column =
      if (isString) unix_timestamp(to_timestamp(col(tsCol), "yyyy:MM:dd HH:mm:ss"))
      else col(tsCol).cast("long")
    // Order by the raw column for timestamp/numeric inputs (keeps
    // sub-second ordering); the parsed value for strings (lexicographic
    // EXIF strings order the same, but null-parses must group first).
    val tsOrd = if (isString) tsLong else col(tsCol)
    val w = Window.partitionBy(deviceCol).orderBy(tsOrd, col(idCol))
    val prev = lag(tsLong, 1).over(w)
    val brk = when(
      prev.isNull || tsLong - prev > gapSeconds, 1L)
      .otherwise(0L)
    media
      .withColumn("__brk", brk)
      .withColumn(
        "burst_seq",
        sum(col("__brk"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__brk")
  }

  /** Pairs of ids sharing at least `minShared` distinct keys — the
    * [[graft.text.TextOps.winnowPairs]] lattice generalized to any
    * (id, key) relation: distinct per id, a document-frequency cap
    * dropping keys present in more than `dfCap` ids BEFORE the
    * self-join (the boilerplate guard — for video frames that is the
    * black frame / studio intro every file carries), key self-join,
    * pair count, threshold. The df-cap is a partial-aggregating
    * groupBy joined back on the key (NOT a window riding the self-join
    * exchange — a `count OVER (PARTITION BY k)` would ship every row
    * of a boilerplate-hot key into one window task, recreating the
    * straggler the cap exists to prevent; map-side partial aggregation
    * shrinks the hot key to one row per input partition before any
    * shuffle). Video near-dup (q81) feeds it md5 digests
    * of sampled frame payloads: re-muxed, trimmed, or re-captioned
    * copies of a clip share raw frame bytes, and frame-set overlap
    * finds them before any visual decode. */
  def sharedKeyPairs(
      df: DataFrame,
      idCol: String,
      keyCol: String,
      minShared: Long,
      dfCap: Long = 1000L): DataFrame = {
    // The explicit not-null filter makes the two consumers of `d`
    // (the df-cap aggregate and the join side) CANONICALLY IDENTICAL:
    // without it, the final `da < db` predicate back-infers
    // isnotnull(id) into the join branch only, the two distinct
    // exchanges no longer canonicalize equal, and AQE re-runs the
    // whole upstream pipeline (winnow fingerprints included) once per
    // branch instead of reusing one shuffle (observed: 2 full
    // evaluations in q77's executed plan). Null ids/keys produce no
    // pairs either way — a null key never equi-joins and a null id
    // fails da < db — so output is unchanged.
    val d = df.select(col(idCol).as("id"), col(keyCol).as("k"))
      .where(col("id").isNotNull && col("k").isNotNull)
      .distinct()
    // df-cap via groupBy, NOT a Window partitioned by k: the cap exists
    // precisely because some key is boilerplate-hot (10^9 ids), and a
    // count() OVER (PARTITION BY k) would ship every row of that key
    // into one window task just to count them — recreating the
    // straggler the cap prevents. groupBy's map-side partial
    // aggregation shrinks the hot key to one row per input partition
    // before the shuffle; the join back is on k, the same key the
    // self-join below shuffles on.
    val smallKeys = d
      .groupBy("k")
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") <= dfCap)
      .select("k")
    val kept = d.join(smallKeys, "k")
    kept.select(col("id").as("da"), col("k"))
      .join(kept.select(col("id").as("db"), col("k")), "k")
      .where(col("da") < col("db"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** SimHash near-dup pairs: 60-bit signatures blocked on 15-bit bands
    * (a pair within hamming distance 3 shares at least one of 4 bands),
    * verified by hamming distance — the `maxHamming = 3` instance of
    * [[hammingPairs]]. */
  def simhashPairs(
      sigs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Long = 1000L): DataFrame =
    hammingPairs(sigs, "id", "simhash", 60, maxHamming, maxBucketSize)

  /** Perceptual-hash image near-dup pairs over [[graft.multimodal.Multimodal.imagePhash]]
    * output: 64-bit DCT pHashes ([[graft.image.Phash]]) blocked on 8-bit
    * bands — guaranteed recall for hamming distance ≤ 7, which the
    * corpus probe (tools/PhashProbe) shows comfortably covers JPEG
    * re-encodes and small photometric shifts (intra ≤ 6) while staying
    * under the nearest distinct-image distance (inter ≥ 12). */
  def phashPairs(
      hashes: DataFrame,
      maxHamming: Int = 7,
      maxBucketSize: Long = 1000L): DataFrame =
    hammingPairs(hashes, "media_id", "phash", 64, maxHamming, maxBucketSize)
}
