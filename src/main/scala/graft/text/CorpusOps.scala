package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sql.Jobs

/** Training-corpus assembly operators: the steps between "cleaned
  * documents" and "training batches" in an LLM data pipeline —
  * deterministic stratified sampling (corpus mixing) and sliding
  * token-window chunking (context-length splitting). Both are pure
  * column math (no shuffle, no UDF): sampling is a codegen filter on
  * the scan, chunking is a per-row explode whose output rows carry only
  * the chunk text, so at 100 TB they run at scan speed and parallelize
  * with the input partitioning. Determinism (md5-keyed sampling rather
  * than `rand()`) is what makes resumable/reproducible corpus builds
  * possible — re-running the pipeline selects the identical subset.
  */
object CorpusOps {

  /** Stratified-sampling predicate: keep a row iff the 60-bit md5 hash
    * of its key, taken mod 1e6, falls below the stratum's e6-scaled
    * fraction. Strata absent from `fractionsE6` fall back to
    * `defaultE6` (0 = drop). The hash is keyed on the row id, NOT the
    * stratum, so resampling a stratum at a higher rate yields a strict
    * superset of the previous sample (the standard monotone-sampling
    * property for corpus version bumps). */
  def stratifiedSampleE6(
      key: Column,
      stratum: Column,
      fractionsE6: Map[String, Long],
      defaultE6: Long = 0L): Column = {
    val frac = fractionsE6.foldLeft(lit(defaultE6): Column) {
      case (acc, (k, v)) => when(stratum === lit(k), lit(v)).otherwise(acc)
    }
    pmod(Dedup.hash60(key.cast("string")), lit(1000000L)) < frac
  }

  /** End-to-end training-corpus build — the canonical composition of
    * this module with the dedup layer, mirroring a production data
    * pipeline stage list:
    *
    *  1. corpus mixing: [[stratifiedSampleE6]] per-language rates;
    *  2. exact dedup: keep the lowest doc_id per content hash
    *     ([[graft.dedup.Dedup.dropExactDuplicates]]; swap in
    *     `minhashNearDups` + `clusters` for fuzzy dedup — same shape,
    *     oracle-tested separately as q26/q32);
    *  3. quality gate: alphabetic-character ratio floor;
    *  4. context-length chunking: [[chunkByTokens]];
    *  5. sequence packing: [[packGreedy]] over the chunks, keyed by
    *     `doc_id << 32 | chunk_idx` — chunk counts cannot reach 2^32
    *     (a chunk is at least one word), so the key never collides
    *     across documents, and it sorts identically to the
    *     `(doc_id, chunk_idx)` pair.
    *
    * Returns `(doc_id, chunk_idx, chunk_text, pack_id, pack_pos,
    * n_tokens)`. `packShards` > 0 repartitions the chunks before the
    * sequential packing scan (shard-parallel packs, pack_id embeds the
    * shard); 0 leaves the incoming partitioning. Every stage is a
    * narrow column transform except the dedup window and the final
    * pack join — at 100 TB the plan is scan → filter → window →
    * explode → one co-keyed join. */
  def buildCorpus(
      docs: DataFrame,
      fractionsE6: Map[String, Long],
      defaultE6: Long,
      minAlphaE6: Long,
      window: Int = 32,
      stride: Int = 24,
      capTokens: Long = 256L,
      packShards: Int = 0): DataFrame = {
    val sampled = docs.where(
      stratifiedSampleE6(col("doc_id"), col("lang"), fractionsE6, defaultE6))
    val deduped = graft.dedup.Dedup.dropExactDuplicates(sampled, "doc_id", "text")
    val quality = deduped.where(TextOps.alphaRatioE6(col("text")) >= minAlphaE6)
    // The pack key is the PAIR (doc_id, chunk_idx), not a packed long:
    // `doc_id << 32 | chunk_idx` silently drops doc_id's high bits, and
    // the module's own 60-bit md5-derived ids collide mod 2^32 at scale
    // — the join back would then fan out across unrelated documents.
    // localCheckpoint materializes the sample→dedup→quality→chunk
    // pipeline once: both the packer and the final join read it, and a
    // lazy relation would recompute the corpus-wide window twice.
    val chunks = Jobs.described(docs.sparkSession, "CorpusOps.buildCorpus") {
      chunkByTokens(quality, "doc_id", "text", window, stride)
        .select(
          col("id").as("doc_id"), col("chunk_idx"), col("chunk_text"),
          col("n_tokens"))
        .localCheckpoint()
    }
    val forPack =
      if (packShards > 0)
        chunks.repartition(packShards, col("doc_id"), col("chunk_idx"))
      else chunks
    packGreedyKeyed(forPack, Seq("doc_id", "chunk_idx"), "n_tokens", capTokens)
      .select("doc_id", "chunk_idx", "pack_id", "pack_pos")
      .join(chunks, Seq("doc_id", "chunk_idx"))
      .select("doc_id", "chunk_idx", "chunk_text", "pack_id", "pack_pos", "n_tokens")
  }

  /** Greedy sequence packing ("sample packing"): concatenate documents
    * in id order into packs of at most `capTokens` tokens — the step
    * that turns variable-length documents into fixed-budget training
    * sequences without padding waste. Returns `(id, pack_id, pack_pos,
    * n_tokens)`; a document larger than the cap gets a pack of its own.
    *
    * Packing is inherently sequential, so parallelism comes from
    * SHARDING, not from splitting one greedy scan: each partition packs
    * its own id-sorted rows independently and `pack_id` embeds the
    * partition id (`pid << 32 | local`), giving deterministic output
    * for any fixed partitioning. At corpus scale, shard by a hash or
    * range prefix first (any per-shard set yields valid packs — the
    * cap is per pack, not global), then pack each shard in one pass;
    * the only per-row state is a running token count, so the scan
    * stays O(1)-memory and never materializes a shard. */
  def packGreedy(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      capTokens: Long): DataFrame =
    packGreedyKeyed(
      df.select(col(idCol).cast("long").as("id"), col(tokenCol)),
      Seq("id"), tokenCol, capTokens)

  /** [[packGreedy]] over a COMPOSITE key: sorts each partition by
    * `keyCols` (in order) and greedy-packs that sequence. The general
    * form exists because packing a pair key through one packed long
    * caps the leading component at 2^31 — composite keys keep every
    * bit (and work for string ids). Returns the key columns unchanged
    * plus (pack_id, pack_pos, n_tokens). */
  def packGreedyKeyed(
      df: DataFrame,
      keyCols: Seq[String],
      tokenCol: String,
      capTokens: Long): DataFrame = {
    require(capTokens > 0, "capTokens must be positive")
    require(keyCols.nonEmpty, "at least one key column")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val base = df
      .select(keyCols.map(col) :+ col(tokenCol).cast("long").as("__t"): _*)
      .sortWithinPartitions(keyCols.head, keyCols.tail: _*)
    val nk = keyCols.length
    val schema = StructType(base.schema.fields.take(nk).toSeq ++ Seq(
      StructField("pack_id", LongType),
      StructField("pack_pos", IntegerType),
      StructField("n_tokens", LongType)))
    base.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var local = -1L
      var acc = 0L
      var pos = 0
      var first = true
      it.map { r =>
        val t = r.getLong(nk)
        if (first || acc + t > capTokens) {
          local += 1; acc = t; pos = 0; first = false
        } else { acc += t; pos += 1 }
        // Seq[Any] keeps pos an Int — a bare Seq would unify on Long and
        // widen it, tripping the encoder's INT check
        Row.fromSeq((0 until nk).map(r.get) ++ Seq[Any]((pid << 32) | local, pos, t))
      }
    }(Encoders.row(schema))
  }

  /** Sliding token-window chunks: `(id, chunk_idx, chunk_text,
    * n_tokens)` with windows of `window` words every `stride` words
    * ([[TextOps.words]] tokenization). A document of n words yields
    * `1 + ceil(max(n - window, 0) / stride)` chunks; the final chunk
    * may be shorter than `window`, and a document shorter than one
    * window yields exactly one chunk. */
  def chunkByTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 32,
      stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    // the chunk-count formula 1 + ceil(max(n-window,0)/stride) assumes
    // stride <= window; a larger stride would emit EMPTY chunks (slices
    // starting past the last word) that flow into packing as zero-token
    // training sequences
    require(stride <= window, s"stride $stride must be <= window $window")
    val ws = TextOps.words(col(textCol))
    df.select(
      col(idCol).as("id"),
      ws.as("__ws"),
      (floor(
        (greatest(size(ws) - window, lit(0)) + lit(stride - 1)) / lit(stride))
        .cast("int") + 1).as("__nc"))
      .select(
        col("id"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_idx"),
        col("__ws"))
      .select(
        col("id"),
        col("chunk_idx"),
        array_join(
          slice(col("__ws"), col("chunk_idx") * stride + 1, lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("__ws"), col("chunk_idx") * stride + 1, lit(window)))
          .as("n_tokens"))
  }
}
