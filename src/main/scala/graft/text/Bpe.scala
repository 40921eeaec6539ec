package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: distributed training over the
  * word-TYPE histogram and a pure-column encoder.
  *
  * Training (Sennrich-style word-level BPE, public algorithm): the
  * cluster computes the distinct-word histogram — one `groupBy(word)`
  * shuffle over any corpus size; the TYPE table is bounded by
  * vocabulary growth (Heaps' law — millions of rows at 100 TB, not
  * trillions), so it collects to the driver like centroids and
  * codebooks do, where the classic merge loop runs over types, not
  * tokens. Ties in pair counts break by (count desc, pair asc) so
  * training is deterministic.
  *
  * Encoding is PURE COLUMN MATH, no UDF: a word becomes a symbol
  * string where EVERY symbol is flanked by its own spaces (so two
  * spaces separate adjacent symbols: " t  h  e "), and each merge in
  * rank order is one `replace(" a  b ", " ab ")`. Both boundary
  * spaces in the pattern make a symbol match exact — " h  e " cannot
  * match " h  ex " — and because each match consumes only the shared
  * boundary's OWN spaces (the neighbor keeps its flanking pair), SQL
  * replace's left-to-right non-overlapping scan reproduces
  * [[mergeOnce]] exactly, including runs: " a  a  a  a " becomes
  * " aa  aa ". (A single-space delimiter is NOT enough on either
  * side: " a b" matches inside " a bc ", and " a b " consumes the
  * boundary the next match needs, so " a a a a " would merge only
  * once.) The same chain is expressible verbatim in the DuckDB
  * oracle (q58). */
object Bpe {

  /** One left-to-right non-overlapping merge pass over a symbol list —
    * the driver-side reference semantics the column encoder mirrors. */
  def mergeOnce(symbols: List[String], a: String, b: String): List[String] =
    symbols match {
      case x :: y :: rest if x == a && y == b => (a + b) :: mergeOnce(rest, a, b)
      case x :: rest => x :: mergeOnce(rest, a, b)
      case Nil => Nil
    }

  /** Apply a ranked merge list to one word. */
  def applyMerges(word: String, merges: Seq[(String, String)]): List[String] =
    merges.foldLeft(word.map(_.toString).toList) {
      case (syms, (a, b)) => mergeOnce(syms, a, b)
    }

  /** Learn `numMerges` merges from the corpus' word-type histogram.
    * One distributed aggregation; the merge loop runs on the driver
    * over the bounded type table ([[trainFromTypes]]). */
  def train(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      maxWordTypes: Int = 1 << 20): Seq[(String, String)] = {
    val types: Array[(String, Long)] = df
      .select(explode(TextOps.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWordTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromTypes(types, numMerges)
  }

  /** The driver-side merge loop over a `(word type, count)` histogram,
    * with INCREMENTAL pair-count maintenance — the standard fast-BPE
    * structure: a pair→words inverted index means each merge rewrites
    * only the words that actually contain the winning pair and updates
    * counts by delta, instead of rescanning every type per merge. A
    * 32k-merge vocabulary over a 10^6-type histogram is minutes, not
    * days. Ties break (count desc, pair asc), identical to the naive
    * full-rescan loop (BpeSpec pins the equivalence). */
  def trainFromTypes(
      types: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable.{ArrayBuffer, HashMap, HashSet}
    val words: Array[ArrayBuffer[String]] =
      types.map { case (w, _) => ArrayBuffer(w.map(_.toString): _*) }
    val counts: Array[Long] = types.map(_._2)
    val pairCounts = HashMap.empty[(String, String), Long]
    // word indexes that contained the pair when last touched; entries
    // may go stale (word rewritten) — merges recheck adjacency anyway
    val pairWords = HashMap.empty[(String, String), HashSet[Int]]
    def bump(p: (String, String), d: Long): Unit = {
      val nc = pairCounts.getOrElse(p, 0L) + d
      if (nc == 0L) pairCounts.remove(p) else pairCounts.update(p, nc)
    }
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)
      var j = 0
      while (j < syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        bump(p, counts(wi))
        pairWords.getOrElseUpdate(p, HashSet.empty) += wi
        j += 1
      }
      wi += 1
    }
    val merges = ArrayBuffer.empty[(String, String)]
    var m = 0
    while (m < numMerges && pairCounts.nonEmpty) {
      // deterministic argmax: count desc, pair asc (same as the naive
      // loop's minBy((-c, a, b)); a linear scan keeps it order-free)
      var bestP: (String, String) = null
      var bestC = Long.MinValue
      pairCounts.foreach { case (p, c) =>
        if (c > bestC || (c == bestC &&
          (p._1 < bestP._1 || (p._1 == bestP._1 && p._2 < bestP._2)))) {
          bestP = p; bestC = c
        }
      }
      merges += bestP
      val (a, b) = bestP
      val affected = pairWords.remove(bestP).getOrElse(HashSet.empty)
      affected.foreach { idx =>
        val syms = words(idx)
        var has = false
        var j = 0
        while (!has && j < syms.length - 1) {
          has = syms(j) == a && syms(j + 1) == b
          j += 1
        }
        if (has) { // stale index entries skip here
          val c = counts(idx)
          j = 0
          while (j < syms.length - 1) {
            bump((syms(j), syms(j + 1)), -c)
            j += 1
          }
          val merged = ArrayBuffer.empty[String]
          j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
              merged += a + b; j += 2
            } else { merged += syms(j); j += 1 }
          }
          words(idx) = merged
          j = 0
          while (j < merged.length - 1) {
            val p = (merged(j), merged(j + 1))
            bump(p, c)
            pairWords.getOrElseUpdate(p, HashSet.empty) += idx
            j += 1
          }
        }
      }
      m += 1
    }
    merges.toSeq
  }

  /** Symbol-string form of one word: " l  o  w " — every symbol
    * flanked by its own boundary spaces (two spaces between adjacent
    * symbols), the invariant each merge replacement preserves. */
  private def spaced(w: Column): Column =
    regexp_replace(w, "(.)", " $1 ")

  /** Encoded symbol string per word after the ranked merges — pure
    * codegen (regexp_replace + a replace chain). Each pattern carries
    * BOTH flanking spaces so a symbol can never match a prefix of a
    * longer symbol (merges [(h,e),(t,h)] on "the" yield [t, he], not
    * [the]), and the " ab " replacement re-establishes the flanked
    * invariant for the merged symbol. */
  def encodeWord(w: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(spaced(w)) { case (c, (a, b)) =>
      call_function("replace", c, lit(s" $a  $b "), lit(s" $a$b "))
    }

  /** Per-document BPE stats: `(id, n_words, n_bpe_tokens)`. The token
    * count per word is the symbol count of the encoded form (trim the
    * outer flanking spaces, split on the double-space separator). */
  def encodeStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ws = TextOps.words(col(textCol))
    // kernel token array (token-identical to the per-word spaced-string
    // chain — the equivalence encode() cites and BpeSpec pins): the
    // document's BPE token count is the size of the flattened array,
    // so the former per-word interpreted transform (regex + replace
    // chain + trim/split PER WORD) + aggregate fold collapses to one
    // codegen size(); empty and null word arrays yield 0 both ways.
    val tokens = graft.sql.Kernel.bpeEncode(ws, merges)
    df.select(
      col(idCol).as("id"),
      size(ws).as("n_words"),
      coalesce(size(tokens), lit(0)).as("n_bpe_tokens"))
  }

  /** Full token array per document (flattened across words).
    *
    * Vocabulary boundedness (why a global sort over DISTINCT tokens of
    * this output — e.g. a dense-id window, q66 — is safe at corpus
    * scale): every emitted token is either a single character or the
    * concatenation of one of the `merges` pairs, so distinct tokens
    * number at most |alphabet| + |merges| — vocabulary-sized,
    * independent of corpus rows. A `row_number` window over them is a
    * deliberate small-relation single-task sort, not a corpus-scale
    * one. */
  def encode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    // kernel encoder (graft.sql.BpeKernel): one [[mergeOnce]] pass per
    // merge per word in a tight loop — token-identical to the
    // spaced-string replace chain (the equivalence [[encodeWord]]'s
    // scaladoc proves and BpeSpec pins), without the per-word regex +
    // 8 string replaces + trim/split allocations.
    df.select(
      col(idCol).as("id"),
      graft.sql.Kernel.bpeEncode(TextOps.words(col(textCol)), merges).as("tokens"))
}
