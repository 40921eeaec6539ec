package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: language id,
  * quality scoring, token counting, fingerprinting. All pure column
  * expressions (codegen'd, no UDFs); every ratio is floor-scaled to an
  * integer so results are bit-stable across engines (DuckDB oracle).
  */
object TextOps {

  /** Lower-cased word array — kernel word scan, value-identical to
    * `regexp_extract_all(lower(text), "[a-z0-9]+", 0)` (the pattern is
    * ASCII-only, so a byte scan over the lowered string matches the
    * regex exactly; [[graft.sql.TextKernels.words]]). */
  def words(text: Column): Column = graft.sql.Kernel.words(text)

  /** Whitespace-token count — kernel byte-run scan, value-identical to
    * `size(regexp_extract_all(text, "\\S+", 0))` without materializing
    * the match array (KernelParitySpec pin). */
  def tokenCount(text: Column): Column = graft.sql.Kernel.tokenCount(text)

  def charCount(text: Column): Column = length(text)

  /** Alphabetic-character ratio, floor-scaled e6 — the [a-z] count is a
    * kernel byte scan of the lowered string, value-identical to
    * `size(regexp_extract_all(lower(text), "[a-z]", 0))`
    * (KernelParitySpec pin). */
  def alphaRatioE6(text: Column): Column =
    floor(lit(1000000.0) * graft.sql.Kernel.alphaCount(text) /
      greatest(length(text), lit(1))).cast("long")

  private val stopwords: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|a)\\b",
    "de" -> "\\b(der|die|das|und|ist|ein|zu)\\b",
    "fr" -> "\\b(le|la|les|et|est|un|une)\\b",
    "es" -> "\\b(el|los|las|es|y|un|una)\\b")

  def stopwordHits(text: Column, langKey: String): Column =
    size(regexp_extract_all(lower(text),
      lit(stopwords.toMap.apply(langKey)), lit(0)))

  /** Stopword-ratio quality signal (hits per token, e6). */
  def stopwordRatioE6(text: Column): Column =
    floor(lit(1000000.0) * stopwordHits(text, "en") /
      greatest(tokenCount(text), lit(1))).cast("long")

  /** n-gram-heuristic language id: argmax of per-language stopword hits
    * with deterministic priority order (en > de > fr > es); CJK
    * characters short-circuit to zh; no hits -> "und". */
  def langId(text: Column): Column = {
    val scores = stopwords.map { case (k, re) =>
      k -> size(regexp_extract_all(lower(text), lit(re), lit(0)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val cjk = size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
    // first language reaching the max wins (deterministic priority)
    val prioritized = scores.foldLeft(lit(null).cast("string")) {
      case (acc, (k, s)) =>
        when(acc.isNotNull, acc).otherwise(when(s === best && best > 0, lit(k)))
    }
    when(cjk > 0, "zh").otherwise(coalesce(prioritized, lit("und")))
  }

  /** Composite quality score e6: weighted mix of alpha ratio, stopword
    * ratio, and length saturation — integer arithmetic only. */
  def qualityScoreE6(text: Column): Column =
    (alphaRatioE6(text) / 2 +
      least(stopwordRatioE6(text), lit(250000L)) +
      least(length(text).cast("long") * 1000, lit(250000L))).cast("long")

  /** 60-bit content fingerprint from md5 (engine-portable: 15 hex
    * digits < 2^60). Kernel digest-prefix — bit-identical to
    * `conv(substring(md5(text), 1, 15), 16, 10)` without the
    * hex-string round trip. */
  def fingerprint(text: Column): Column = graft.sql.Kernel.md5Prefix(text.cast("binary"), 15)

  /** Adjacent word bigrams ("a b") from a words array — the unit of
    * the Gopher-style repetition signal (q76): the fraction of a
    * document's characters covered by its most frequent word n-gram
    * is the canonical repeated-boilerplate detector (Rae et al. 2021,
    * §A1.1). Returns an empty array below two words. */
  def bigrams(ws: Column): Column =
    // kernel byte-concat — value-identical to the former
    // transform/concat_ws HOF (incl. the <2-words empty array)
    graft.sql.Kernel.bigrams(ws)

  /** The Gopher-style repetition signal as a relation: per document,
    * the most frequent word bigram (ties to the lexicographically
    * smallest), its count, and the floor-e6 fraction of the document's
    * characters it covers — `(idCol, top_bigram, top_cnt, top_frac_e6)`.
    * One shuffle on (doc, bigram) with map-side partial counts; the
    * top-1 window partitions by document, bounded by a document's
    * distinct-bigram count. Documents under two words drop out (no
    * bigram exists). This IS q76's production pipeline — the query and
    * the unit suite both call it, so the fraction math has a unit gate
    * as well as the DuckDB oracle. */
  def topBigramFraction(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = df.select(
      col(idCol), length(col(textCol)).as("chars"),
      words(col(textCol)).as("ws"))
    val counts = w.where(size(col("ws")) >= 2)
      .select(col(idCol), col("chars"), explode(bigrams(col("ws"))).as("bg"))
      .groupBy(idCol, "chars", "bg")
      .agg(count(lit(1)).as("c"))
    val top = Window.partitionBy(idCol).orderBy(col("c").desc, col("bg"))
    counts.withColumn("rn", row_number().over(top))
      .where(col("rn") === 1)
      .select(col(idCol), col("bg").as("top_bigram"),
        col("c").as("top_cnt"),
        floor(lit(1000000.0) * col("c") * length(col("bg")) / col("chars"))
          .cast("long").as("top_frac_e6"))
  }

  /** PII patterns, written inside the Java-regex ∩ RE2 common subset
    * (character classes, bounded quantifiers, ASCII `\b` — no
    * lookaround, no backreferences) so the DuckDB oracle replays the
    * identical strings (q75). Both engines' `\d`/`\b`/`\w` are ASCII
    * by default, and greedy class-sequences have no alternation, so
    * leftmost-first (Java) and leftmost-longest (RE2) agree on every
    * match span. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII redaction — the scrub stage of a production training-data
    * pipeline: emails, then IPv4 literals, then NANP-shaped phone
    * numbers replaced by typed placeholder tokens. A chain of three
    * codegen'd `regexp_replace`s (no UDF); the fixed order is part of
    * the contract — email FIRST is load-bearing: a numeric local part
    * like `10.0.0.1@ex.io` must redact as one `<EMAIL>`, not as an
    * `<IP>` plus debris the email pattern can no longer match.
    * Placeholders contain no digits or `@`, so the operator is
    * idempotent — redact(redact(x)) == redact(x) (PiiSpec). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every `k`-gram, slide a window of `w`
    * consecutive gram hashes, keep each window's minimum with ties to
    * the RIGHTMOST position, dedup. The guarantee: any shared
    * substring of length ≥ k + w - 1 between two documents yields at
    * least one shared fingerprint, so fingerprint-set overlap is a
    * partial-duplicate detector that — unlike [[fingerprint]]'s
    * whole-document hash or MinHash's bag-of-shingles sketch — also
    * LOCATES the shared span (`pos`).
    *
    * Pure column math, one codegen'd expression per document, no UDF,
    * no join, no shuffle: grams and window minima are `sequence`/
    * `transform`/`slice`/`array_min` HOFs. The rightmost-tie rule is
    * encoded IN the hash key: hkey = fp·2²¹ + (2²¹−1−pos), so the
    * plain `array_min` picks (smallest fp, then largest pos) in one
    * comparison — no second tie-break pass, and the same single `min`
    * is expressible as a DuckDB window function for the oracle (q73).
    * fp is 40 md5 bits; positions are capped by the 21-bit pack
    * (documents up to 2M chars — chunk longer docs first, as
    * CorpusOps.tokenChunks does).
    *
    * Cost: O(n·w) comparisons per doc via the overlapping slices —
    * the classic two-pointer O(n) rescan doesn't vectorize into HOFs,
    * and w is a small constant (the window is the noise-robustness
    * knob, typically 4-16), so the slice form wins inside codegen.
    * Docs shorter than k fingerprint to the empty array; docs with
    * fewer than w grams yield the single global minimum (the standard
    * short-document convention).
    *
    * Returns `array<struct<pos:long, fp:long>>`; 1-based `pos` is the
    * gram's character offset. */
  /** The gram-hash keys: one hkey per k-gram, empty for docs shorter
    * than k. Split from [[winnowWinners]] so the array can be pinned
    * to its own projection — see the scale note there. */
  def winnowKeys(text: Column, k: Int): Column = {
    require(k >= 1, s"k=$k must be positive")
    val n = length(text)
    val grams = n - lit(k) + lit(1)
    when(n < lit(k), array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), greatest(lit(1), grams)), i =>
        conv(substring(md5(text.substr(i, lit(k)).cast("binary")), 1, 10), 16, 10)
          .cast("long") * lit(2097152L) + (lit(2097151L) - i)))
  }

  /** Window-min selection + pos/fp unpack over a MATERIALIZED hkeys
    * array column (a bound attribute, not the [[winnowKeys]]
    * expression inline). The split matters at scale: higher-order
    * lambdas sit OUTSIDE Catalyst's common-subexpression elimination,
    * so composing the two expressions into one Column re-evaluates
    * the whole gram-hash transform — every md5 — once PER WINDOW
    * START, turning O(n·w) work into O(n²) (visible in the physical
    * plan as the gram transform nested inside the slice lambda).
    * Referencing a projected column instead evaluates the hashes
    * exactly once per row; the slices then cost O(w) long copies
    * each. Use [[winnowFingerprints]] for the correctly-staged
    * composition. */
  def winnowWinners(hkeys: Column, w: Int): Column = {
    require(w >= 1, s"w=$w must be positive")
    val nk = size(hkeys)
    val starts = sequence(lit(1), greatest(lit(1), nk - lit(w) + lit(1)))
    val winners = array_distinct(
      transform(starts, s => array_min(slice(hkeys, s, lit(w)))))
    val res = transform(winners, hk => struct(
      (lit(2097151L) - hk.bitwiseAND(lit(2097151L))).as("pos"),
      shiftright(hk, 21).as("fp")))
    when(nk === lit(0), array().cast("array<struct<pos:bigint,fp:bigint>>"))
      .otherwise(res)
  }

  /** Winnowing fingerprints, correctly staged: the gram-hash array is
    * projected first so the window-min pass reads a stored array
    * instead of re-running the hash transform per window (see
    * [[winnowWinners]]). Appends `outCol: array<struct<pos,fp>>`.
    *
    * Downstream explode caveat (q73 demonstrates the shape): use
    * `explode_outer(col(outCol))` + `.where(col("w").isNotNull)`, NOT
    * a plain `explode` — InferFiltersFromGenerate turns a plain
    * explode into a `size(outCol) > 0` filter that predicate pushdown
    * then sinks below these projections, re-inlining the fused
    * expression (per-window gram re-hash included) into the filter.
    * The outer variant infers no filter, and a null-drop on the
    * generated attribute cannot sink below the Generate. */
  def winnowFingerprints(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int,
      w: Int,
      outCol: String = "winnow"): org.apache.spark.sql.DataFrame =
    // fused kernel: one digest per gram + O(n) monotonic-deque window
    // minima (graft.sql.TextKernels.winnowFingerprints), replacing the
    // staged md5-hex transform + O(n·w) slice/array_min HOF pass.
    // Values and selection identical (WinnowSpec pins kernel ==
    // staged form); the staging/CSE hazards the scaladocs above
    // describe no longer apply to this path — the kernel is a single
    // codegen expression evaluated once per row.
    df.withColumn(outCol, graft.sql.Kernel.winnowFp(col(textCol), k, w))

  /** Single-Column winnowing — small-document convenience ONLY: the
    * fused expression re-hashes all grams once per window (quadratic;
    * see [[winnowWinners]]). Kept for expression-level callers that
    * cannot take a DataFrame; prefer [[winnowFingerprints]]. */
  def winnowFingerprintsExpr(text: Column, k: Int, w: Int): Column =
    winnowWinners(winnowKeys(text, k), w)

  /** Cross-document partial-duplicate pairs from winnowing
    * fingerprints — the span-level dedup detector (the lightweight
    * kin of suffix-array training-data dedup, Lee et al. 2021): two
    * documents sharing `minShared`+ fingerprints share that many
    * distinct winnowed k-gram spans, each a witness of a common
    * substring. The scale discipline mirrors the other pair
    * operators in [[graft.dedup.Dedup]]:
    *
    *  - fingerprints are DISTINCT per doc (a span repeated inside one
    *    doc counts once toward a pair);
    *  - a document-frequency cap drops fingerprints appearing in more
    *    than `dfCap` docs BEFORE pairing — a span in half the corpus
    *    is boilerplate, not duplication, and it is exactly the
    *    quadratic-bucket hazard (the PPJoin df-cap / minhash
    *    hot-bucket move). The cap is a partial-aggregating groupBy
    *    joined back on fp (a window would ship every row of a
    *    boilerplate-hot fp into one task — see
    *    [[graft.dedup.Dedup.sharedKeyPairs]]);
    *  - the pair count per (da, db) then comes from one groupBy.
    *
    * Returns (da, db, shared) with da < db, shared >= minShared. */
  def winnowPairs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minShared: Long,
      dfCap: Long): org.apache.spark.sql.DataFrame = {
    val fps = winnowFingerprints(df.select(idCol, textCol), textCol, k, w)
      .select(col(idCol).as("id"), explode_outer(col("winnow")).as("wf"))
      .where(col("wf").isNotNull)
      .select(col("id"), col("wf.fp").as("fp"))
    // the pair lattice itself (distinct → df-cap window riding the
    // self-join exchange → count ≥ threshold) is the shared one
    graft.dedup.Dedup.sharedKeyPairs(fps, "id", "fp", minShared, dfCap)
  }
}
