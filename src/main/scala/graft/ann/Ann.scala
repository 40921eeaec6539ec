package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Corpus

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and an LSH
  * (random-hyperplane) bucketed variant as the scale path — candidates
  * shuffle on a small integer bucket key instead of the O(n^2) cross
  * join. Dot products are `aggregate(zip_with(...))` column math
  * (sequential left-to-right sum, matching DuckDB's list_dot_product
  * for oracle parity).
  */
object Ann {

  private def asDouble(a: Column): Column = a.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    // codegen kernel (graft.sql.VecKernels.dot): same sequential
    // left-to-right sum (and null semantics) as the former
    // aggregate(zip_with(...)) fold, which was CodegenFallback and
    // allocated a product array per row — the per-row constant behind
    // every cosine/centroid distance in this module.
    graft.sql.Kernel.dot(asDouble(a), asDouble(b))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine floor-scaled e6 — the engine's canonical similarity output
    * (bit-stable across engines). */
  def cosineE6(a: Column, b: Column): Column =
    floor(lit(1000000.0) * cosine(a, b)).cast("long")

  /** Exact brute-force top-k neighbors of the row with `queryId`.
    * The single query row broadcasts; ranking is deterministic
    * (sim desc, id asc). */
  def topK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int = 20): DataFrame = {
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
    df.crossJoin(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(
        col(idCol).as("id"),
        cosineE6(col(vecCol), col("qv")).as("sim_e6"))
      .orderBy(col("sim_e6").desc, col("id"))
      .limit(k)
  }

  /** Deterministic ±1 random hyperplanes (SQL-literal-friendly).
    * The splitmix input stride must be >= dim, or consecutive planes
    * would SHARE all entries past the stride (dim = 1536 with a fixed
    * 1024 stride overlaps planes p and p+1 in all but 1024 positions,
    * correlating the sign bits and collapsing the bucket space); kept
    * at the historical 1024 for dim <= 1024 so existing signatures and
    * oracles are bit-identical. */
  def planes(dim: Int, nPlanes: Int, seed: Long = 7L): Seq[Array[Double]] =
    (0 until nPlanes).map { p =>
      val stride = math.max(1024L, dim.toLong)
      Array.tabulate(dim) { i =>
        if ((Corpus.splitmix64(seed + p * stride + i) & 1L) == 0L) 1.0 else -1.0
      }
    }

  /** Sign-bit LSH bucket id: bit p of the bucket is 1 iff
    * dot(vec, plane_p) >= 0. */
  def lshBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (pl, p) =>
      when(dot(vec, lit(pl)) >= 0, 1L << p).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed near-duplicate pairs: same-bucket candidates verified
    * by exact cosine >= minCosineE6. Shuffles on the bucket id only.
    *
    * Scale guards (both part of the operator contract, mirrored in the
    * SQL oracle): (1) `maxBucketSize` drops buckets whose membership
    * exceeds the cap before the self-join — with fixed planes a hot
    * bucket is quadratic in its size, the same failure mode as an
    * uncapped LSH band; the cap is a `count(*) OVER (PARTITION BY
    * bucket)` window riding the same exchange the self-join needs, so
    * the 8-64 dot products per row run once and the join's second side
    * reuses the shuffle. (2) the plane count GROWS with corpus size
    * (buckets ~ n / 2^planes): pass `nPlanes = 0` to size planes from
    * the optimizer's row estimate via [[planesForCount]] — a
    * 10^9-vector corpus gets ~20 planes / 10^6 buckets where a fixed 8
    * would leave 4M vectors per bucket, all capped away (correct but
    * useless output).
    *
    * Reproducibility: the default (8 planes) pins the bucket layout,
    * so output is a pure function of the input. Auto mode (`nPlanes =
    * 0`) derives the layout from table STATISTICS — candidate pairs
    * near the cosine threshold, and which hot buckets the cap drops,
    * can then vary with the environment's stats, not just the data;
    * opt in only where that is acceptable (it usually is for a
    * recall-bounded near-dup sweep, not for an oracle-checked one). */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nPlanes: Int = 8,
      minCosineE6: Long = 400000L,
      dim: Int = 64,
      maxBucketSize: Long = 1000L): DataFrame = {
    val np =
      if (nPlanes > 0) nPlanes
      else {
        // same stats-estimate-driven strategy pick as Pipeline.tileWinners:
        // CBO row count when available, else a bytes/row heuristic over
        // the projected columns (id 8B + dim floats); only performance
        // hangs on the estimate, never correctness
        val plan = df.select(idCol, vecCol).queryExecution.optimizedPlan
        val est = plan.stats.rowCount
          .map(_.min(BigInt(Long.MaxValue)).toLong)
          .getOrElse(
            (plan.stats.sizeInBytes / (8L + 4L * math.max(dim, 1)))
              .max(BigInt(1)).min(BigInt(Long.MaxValue)).toLong)
        math.min(62, planesForCount(est, math.max(maxBucketSize, 1L)))
      }
    val pls = planes(dim, np)
    val bucketed = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      lshBucket(col(vecCol), pls).as("bucket"))
    val capped =
      if (maxBucketSize <= 0) bucketed
      else
        bucketed
          .withColumn(
            "__bucket_size",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
          .where(col("__bucket_size") <= maxBucketSize)
          .drop("__bucket_size")
    capped.as("a")
      .join(
        capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("ida"), col("b.id").as("idb"),
        cosineE6(col("a.v"), col("b.v")).as("sim_e6"))
      .where(col("sim_e6") >= minCosineE6)
  }

  /** Plane count sized to the corpus: ~log2(n / targetBucket) sign bits
    * put the EXPECTED bucket size near `targetBucket`, so the self-join
    * stays linear as n grows (8 fixed planes = 256 buckets is only
    * right around n ~ 10^5; at 10^9 vectors it would be ~4M/bucket). */
  def planesForCount(n: Long, targetBucket: Long = 1000L): Int =
    math.max(1, math.ceil(
      math.log(math.max(n.toDouble / targetBucket, 2.0)) / math.log(2.0)).toInt)

  /** IVF search: exact top-k cosine among vectors whose coarse list is
    * one of the query's `nprobe` nearest lists — the probe half of the
    * IVF index ([[ivfAssign]] is the build half). Everything is column
    * math: the query row broadcasts, its nprobe probe lists come from
    * sorting the (distance, list_id) struct array INSIDE the broadcast
    * row (no driver collect), and candidates are filtered by
    * `array_contains` before any cosine is computed.
    *
    * Scale shape: at 10^9 vectors with L lists, the probe touches
    * ~nprobe/L of the corpus. In a real deployment `list_id` is the
    * table's partition column, so the filter prunes partitions at the
    * scan; here the assignment is computed on the fly, which still
    * skips the cosine (the expensive part) for every non-probed row. */
  def ivfSearch(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]],
      queryId: Long,
      k: Int = 20,
      nprobe: Int = 2): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol, centroids)
    val qDists = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(-2.0) * dot(col("qv"), lit(c)) + lit(c.map(x => x * x).sum)).as("d2"),
        lit(i).as("list_id"))
    }
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
      .select(
        col("qv"),
        transform(
          slice(sort_array(array(qDists: _*)), 1, nprobe),
          e => e.getField("list_id")).as("probe"))
    assigned
      .join(broadcast(q), array_contains(col("probe"), col("list_id")))
      .where(col("id") =!= queryId)
      .select(
        col("id"),
        col("list_id"),
        cosineE6(col("v"), col("qv")).as("sim_e6"))
      .orderBy(col("sim_e6").desc, col("id"))
      .limit(k)
  }

  // ---- Product quantization (the compression half of the canonical
  // IVF-PQ layout; ivfAssign/ivfSearch are the routing half) ----------
  //
  // A 64-dim float vector (256 bytes) compresses to `m` one-byte codes
  // (here 4 bytes, 64x): split into m subspaces, quantize each
  // subvector to its nearest of k per-subspace centroids. Search never
  // touches raw vectors: a query precomputes an m*k lookup table of
  // subvector-to-centroid distances ON THE DRIVER, broadcasts it as a
  // literal, and each row's approximate distance is m array lookups +
  // a sum — pure codegen column math, no shuffle, no UDF. At 10^9
  // vectors this is the difference between scanning 256 GB and 4 GB
  // of codes (plus the IVF probe pruning which lists get scanned).
  //
  // Distance arithmetic is deliberately ELEMENTWISE squared L2 in
  // ascending dimension order — the same operation order the DuckDB
  // oracle's list comprehension produces — so codes and ADC distances
  // are IEEE-identical across engines (the -2*dot+|c|^2 shortcut used
  // by ivfAssign differs in rounding and is avoided here). Argmin
  // tie-break is lowest centroid id on both sides (array_min on
  // (dist, j) structs / ORDER BY dist, j).

  /** Elementwise squared L2 between a vector slice and a centroid
    * literal, summed in ascending dimension order. */
  private def sliceDist2(sub: Column, c: Array[Double]): Column =
    // kernel squared-L2 in ascending dimension order — identical IEEE
    // sum to the zip_with/aggregate fold (and to the oracle's list
    // comprehension)
    graft.sql.Kernel.l2(sub, lit(c))

  /** Deterministic sampled codebooks: the subvectors of the `k`
    * lowest-id rows seed one centroid each per subspace (random-sample
    * initialization, the standard PQ/k-means seeding — and exactly
    * reproducible by the oracle via `WHERE id < k`). Bounded driver
    * collect of k rows, same contract as the `centroids` argument to
    * [[ivfAssign]]. Refine with [[trainPqCodebooks]] when recall
    * matters more than oracle replicability. */
  def samplePqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 4,
      k: Int = 16): Seq[Seq[Array[Double]]] = {
    val rows = df
      .orderBy(col(idCol))
      .limit(k)
      .select(asDouble(col(vecCol)))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.length == k, s"need $k seed rows, got ${rows.length}")
    val sub = rows.head.length / m
    (0 until m).map(i => rows.toSeq.map(_.slice(i * sub, (i + 1) * sub)))
  }

  /** Lloyd-refined codebooks: `iters` rounds of assign + per-subspace
    * centroid mean, initialized from [[samplePqCodebooks]]. Each round
    * is one distributed aggregation; only the m*k*subDim centroid means
    * (a few KB) ever reach the driver. Deterministic: means are exact
    * sums / counts over a fixed assignment.
    *
    * Training is bounded to a deterministic md5-keyed sample of at
    * most ~`maxTrainRows` rows (production practice: codebooks
    * converge on 10^5-10^6 vectors; re-encoding the FULL relation
    * every Lloyd iteration at corpus scale would be `iters` needless
    * 100 TB scans). The sample is cached across iterations and is a
    * pure function of the ids, so training stays reproducible. */
  def trainPqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 4,
      k: Int = 16,
      iters: Int = 5,
      maxTrainRows: Long = 1L << 20): Seq[Seq[Array[Double]]] = {
    val base = df.select(col(idCol).as(idCol), col(vecCol).as(vecCol))
    val n = base.count()
    val sampled =
      if (n <= maxTrainRows) base
      else base.where(
        pmod(graft.dedup.Dedup.hash60(col(idCol).cast("string")), lit(1000000L))
          < lit(math.max(1L, maxTrainRows * 1000000L / n)))
    val train = sampled.persist()
    try trainPqCodebooksFull(train, idCol, vecCol, m, k, iters)
    finally { train.unpersist(); () }
  }

  private def trainPqCodebooksFull(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int): Seq[Seq[Array[Double]]] = {
    var books = samplePqCodebooks(df, idCol, vecCol, m, k)
    val subDim = books.head.head.length
    (0 until iters).foreach { _ =>
      val coded = pqEncode(df, idCol, vecCol, books)
        .join(df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v")), "id")
      val sums = coded
        .select(posexplode(col("codes")).as(Seq("sub", "code")), col("__v"))
        .select(
          col("sub"), col("code"),
          posexplode(slice(col("__v"), col("sub") * subDim + 1, lit(subDim)))
            .as(Seq("dim", "x")))
        .groupBy("sub", "code", "dim")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.zipWithIndex.map { case (book, sub) =>
        book.zipWithIndex.map { case (c, j) =>
          val upd = c.clone()
          sums.filter(r => r.getInt(0) == sub && r.getInt(1) == j).foreach { r =>
            upd(r.getInt(2)) = r.getDouble(3) / r.getLong(4)
          }
          upd
        }
      }
      books = next
    }
    books
  }

  /** PQ encode: `(id, codes)` where `codes(i)` is the argmin centroid
    * of subspace i. Pure column math over the vector scan — the codes
    * relation is what a 100 TB deployment materializes next to the IVF
    * `list_id` partition column. */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Seq[Array[Double]]]): DataFrame = {
    val subDim = codebooks.head.head.length
    val v = asDouble(col(vecCol))
    val codes = codebooks.zipWithIndex.map { case (book, i) =>
      val sub = slice(v, i * subDim + 1, subDim)
      array_min(array(book.zipWithIndex.map { case (c, j) =>
        struct(sliceDist2(sub, c).as("d2"), lit(j).as("j"))
      }: _*)).getField("j")
    }
    df.select(col(idCol).as("id"), array(codes: _*).as("codes"))
  }

  /** ADC machinery shared by [[pqAdcSearch]] and the IVF-PQ probe
    * path: the per-subspace squared-distance lookup table for `query`
    * and the codegen column summing each row's m table entries. One
    * implementation so a fix to the LUT slicing or the 1-based
    * element_at arithmetic cannot miss a copy. */
  private def adcColumn(
      codebooks: Seq[Seq[Array[Double]]],
      query: Array[Double]): Column = {
    val subDim = codebooks.head.head.length
    val nCent = codebooks.head.length
    val lut: Array[Double] = codebooks.zipWithIndex.flatMap { case (book, i) =>
      val q = query.slice(i * subDim, (i + 1) * subDim)
      book.map { c =>
        var s = 0.0
        var d = 0
        while (d < subDim) { val t = q(d) - c(d); s += t * t; d += 1 }
        s
      }
    }.toArray
    codebooks.indices.map { i =>
      element_at(
        lit(lut),
        lit(i * nCent + 1) + element_at(col("codes"), i + 1).cast("int"))
    }.reduce(_ + _)
  }

  /** ADC (asymmetric distance computation) top-k: approximate squared
    * L2 from the query to every encoded vector via a broadcast m*k
    * lookup table — `m` array lookups + a sum per row, never the raw
    * vectors. `codes` is [[pqEncode]] output (or the materialized codes
    * table at scale). */
  def pqAdcSearch(
      codes: DataFrame,
      codebooks: Seq[Seq[Array[Double]]],
      query: Array[Double],
      k: Int = 10): DataFrame =
    codes
      .select(col("id"), adcColumn(codebooks, query).as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(k)

  /** Full IVF-PQ search — the production ANN layout at corpus scale:
    * the coarse quantizer ([[ivfAssign]]) routes the query to `nprobe`
    * lists, and within them distance is the PQ ADC approximation
    * ([[pqAdcSearch]]'s lookup-table sum over the codes relation) —
    * raw vectors are touched ONLY to compute each row's coarse list
    * and codes, both of which a real deployment materializes once
    * (list_id as the partition column, codes as a 4-byte column), so
    * the steady-state search reads `~nprobe/L` of a 4-byte-per-vector
    * table and does m lookups + a sum per row. Probe lists are chosen
    * on the driver from the centroid literals (ties to the lower list
    * id), matching the q46 oracle's ORDER BY d2, list_id.
    *
    * `rerank > 0` adds the production finish ([[pqAdcRerank]]'s
    * structure composed with the probe): ADC nominates `rerank`
    * candidates from the probed lists' CODES, then exact elementwise
    * L2 re-scores just those rows via a broadcast join with the
    * distance computed ABOVE the join — exact-distance arithmetic is
    * `rerank` rows per query regardless of corpus size (an id-keyed
    * vector table additionally bounds the raw-vector READS to the
    * nominees; a flat scan still reads the column), and recall
    * recovers the ADC quantization loss (measured in
    * BENCH/ANN_RECALL.md). Output is `(id, list_id, adc)` without
    * rerank, `(id, dist2, list_id)` with. */
  def ivfPqSearch(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]],
      codebooks: Seq[Seq[Array[Double]]],
      queryId: Long,
      k: Int = 10,
      nprobe: Int = 2,
      rerank: Int = 0): DataFrame = {
    val query = df.where(col(idCol) === queryId)
      .select(asDouble(col(vecCol)))
      .head.getSeq[Double](0).toArray
    val probe = centroids.zipWithIndex.map { case (c, i) =>
      // same -2*q.c + |c|^2 shortcut as ivfAssign/q46 (the |q|^2 term
      // is constant across lists)
      val d2 = -2.0 * c.zip(query).map { case (a, b) => a * b }.sum +
        c.map(x => x * x).sum
      (d2, i)
    }.sortBy(identity).take(nprobe).map(_._2)
    val assigned = ivfAssign(df, idCol, vecCol, centroids)
      .select(col("id"), col("list_id"))
    val codes = pqEncode(df, idCol, vecCol, codebooks)
    val adc = pqAdcSearchWithin(
      codes.join(assigned, "id")
        .where(col("list_id").isin(probe: _*) && col("id") =!= queryId),
      codebooks, query, if (rerank > 0) math.max(rerank, k) else k)
    if (rerank <= 0) adc
    else {
      // the exact L2 sits ABOVE the broadcast join so the executed
      // plan computes it only for the nominated ids — the stream side
      // still scans the vector column (storage I/O; a production
      // layout points nominees at an id-keyed table), but the
      // per-row distance arithmetic is nominees-only
      val exact = graft.sql.Kernel.l2(col("__v"), lit(query))
      df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
        .join(broadcast(adc.select("id", "list_id")), "id")
        .select(col("id"), exact.as("dist2"), col("list_id"))
        .orderBy(col("dist2"), col("id"))
        .limit(k)
    }
  }

  /** ADC scoring over a codes relation that carries extra columns
    * (e.g. `list_id`); kept by the projection. */
  private def pqAdcSearchWithin(
      codes: DataFrame,
      codebooks: Seq[Seq[Array[Double]]],
      query: Array[Double],
      k: Int): DataFrame =
    codes
      .select(col("id"), col("list_id"), adcColumn(codebooks, query).as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(k)

  /** ADC + exact rerank — the standard production finish for PQ
    * search: the lookup-table scan nominates `candidates` ids (codes
    * only, no raw vectors), then exact elementwise L2 re-scores JUST
    * those rows via a broadcast join against the vector table, the
    * distance computed above the join. Exact-distance arithmetic is
    * `candidates` rows per query regardless of corpus size (reads too,
    * given an id-keyed vector table; a flat scan still reads the
    * column), and recall approaches exact as `candidates` grows —
    * the knob that buys back the quantization error (measured in
    * BENCH/ANN_RECALL.md). */
  def pqAdcRerank(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codes: DataFrame,
      codebooks: Seq[Seq[Array[Double]]],
      query: Array[Double],
      k: Int = 10,
      candidates: Int = 100): DataFrame = {
    val cand = pqAdcSearch(codes, codebooks, query, candidates).select("id")
    // exact L2 above the broadcast join: distance arithmetic runs for
    // nominated ids only (see ivfPqSearch rerank note)
    val exact = graft.sql.Kernel.l2(col("__v"), lit(query))
    df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .join(broadcast(cand), "id")
      .select(col("id"), exact.as("dist2"))
      .orderBy(col("dist2"), col("id"))
      .limit(k)
  }

  /** IVF-style coarse quantization: assign each vector to its nearest
    * of `centroids`; search probes only matching lists. Centroids are
    * a driver-side broadcastable array. */
  def ivfAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]]): DataFrame = {
    val dists = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(-2.0) * dot(col(vecCol), lit(c)) + lit(c.map(x => x * x).sum)).as("d2"),
        lit(i).as("list_id"))
    }
    df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      array_min(array(dists: _*)).getField("list_id").as("list_id"))
  }
}
