package graft.text

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Winnowing fingerprints vs an independent plain-Scala reference
  * (explicit window scan + rightmost-tie rule), on adversarial
  * small-alphabet strings where gram repeats force ties; plus the
  * paper's coverage guarantee and the short-document conventions. */
class WinnowSpec extends SparkTestBase {

  private val K = 8
  private val W = 7

  private def fp40(gram: String): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(gram.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(10), 16)
  }

  /** Independent winnowing: all k-grams, every full window of w,
    * rightmost minimum per window, distinct. Short docs (< w grams but
    * >= k chars) take the single global rightmost minimum. */
  private def refWinnow(text: String): Set[(Long, Long)] = {
    if (text.length < K) return Set.empty
    val grams = (0 to text.length - K).map(i => (i + 1L, fp40(text.substring(i, i + K))))
    val starts = 0 to math.max(0, grams.length - W)
    starts.map { s =>
      val win = grams.slice(s, s + W)
      // rightmost minimum: min fp, ties to the LARGEST position
      win.minBy { case (pos, f) => (f, -pos) }
    }.toSet
  }

  private def sparkWinnow(texts: Seq[String]): Map[Int, Set[(Long, Long)]] = {
    val s = spark
    import s.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
    TextOps.winnowFingerprints(df, "text", K, W)
      .select(col("id"), explode_outer(col("winnow")).as("w"))
      .select(col("id"), col("w.pos"), col("w.fp"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (id, rows) =>
        id -> rows.filter(!_.isNullAt(1)).map(r => (r.getLong(1), r.getLong(2))).toSet
      }
  }

  test("matches the independent reference on tie-heavy random strings") {
    val rnd = new scala.util.Random(17)
    // 3-letter alphabet: identical 8-grams recur constantly, so the
    // rightmost-tie rule is exercised in nearly every window
    val texts = (0 until 60).map { _ =>
      val n = K + rnd.nextInt(120)
      (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    } ++ Seq(
      "aaaaaaaaaaaaaaaaaaaaaaaa", // one distinct gram: one fingerprint
      "abcdefgh",                  // exactly k chars: one gram, one fp
      "short",                     // < k: empty
      "")                          // empty: empty
    val got = sparkWinnow(texts)
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == refWinnow(t), s"doc $i: '${t.take(30)}…' (len ${t.length})")
    }
  }

  test("coverage guarantee: shared span of k+w-1 chars shares a fingerprint") {
    val rnd = new scala.util.Random(31)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    (0 until 50).foreach { _ =>
      val shared = randText(K + W - 1)
      val a = randText(40) + shared + randText(40)
      val b = randText(40) + shared + randText(40)
      val fa = refWinnow(a).map(_._2)
      val fb = refWinnow(b).map(_._2)
      assert((fa & fb).nonEmpty, s"no shared fingerprint for span '$shared'")
    }
    // and the column version agrees with the reference on those docs
    val docs = Seq(randText(100), randText(100))
    val got = sparkWinnow(docs)
    docs.zipWithIndex.foreach { case (t, i) => assert(got(i) == refWinnow(t)) }
  }

  test("kernel winnow is a single expression and matches the staged HOF form") {
    val s = spark
    import s.implicits._
    // RDD-backed (a local Seq would constant-fold to a LocalRelation
    // and hide the projection structure under test)
    val df = s.createDataFrame(
      s.sparkContext.parallelize(Seq((1, "the quick brown fox jumps over the lazy dog x")), 1))
      .toDF("id", "text")
    val fused = TextOps.winnowFingerprints(df, "text", K, W)

    // the round-6 scale property: winnowFingerprints is ONE kernel
    // call per row (TextKernels.winnowFingerprints — a single digest
    // pass + O(n) deque minima), with no interpreted HOF window-min pass
    // and no md5 hex round trip left in the plan
    val planStr = fused.queryExecution.optimizedPlan.toString
    assert(planStr.contains("TextKernels.winnowFingerprints("),
      s"plan uses the fused winnow kernel:\n$planStr")
    assert(!planStr.contains("array_min") && !planStr.contains("md5"),
      s"no interpreted window-min / md5 hex pass left in the plan:\n$planStr")

    // value pin: the kernel computes EXACTLY the staged composition it
    // replaced (winnowKeys -> winnowWinners), struct order included —
    // the bit-compat contract the q73/q77 oracles rely on
    val staged = df
      .withColumn("__hk", TextOps.winnowKeys(col("text"), K))
      .withColumn("winnow", TextOps.winnowWinners(col("__hk"), W))
      .select(col("id"), col("winnow"))
      .as[(Int, Seq[(Long, Long)])].collect().toMap
    val fromDf = fused.select(col("id"), col("winnow"))
      .as[(Int, Seq[(Long, Long)])].collect().toMap
    val fromExpr = df.select(col("id"),
        TextOps.winnowFingerprintsExpr(col("text"), K, W).as("winnow"))
      .as[(Int, Seq[(Long, Long)])].collect().toMap
    assert(fromDf == staged, "kernel and staged forms agree")
    assert(fromDf == fromExpr, "kernel and fused-HOF forms agree")
  }

  test("winnowPairs: planted partial dups found; boilerplate df-capped away") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(59)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // docs 0 and 1 share a long span; 2..9 are unrelated; 10..19 all
    // carry the SAME boilerplate sentence (df = 10 > cap -> its
    // fingerprints must not produce pairs)
    val span = randText(120)
    val boiler = randText(120)
    val docs = (
      Seq((0L, randText(80) + span + randText(80)),
          (1L, randText(80) + span + randText(80))) ++
      (2L to 9L).map(i => (i, randText(280))) ++
      (10L to 19L).map(i => (i, randText(80) + boiler + randText(80)))
    ).toDF("doc_id", "text")

    val pairs = TextOps.winnowPairs(docs, "doc_id", "text", K, W, 3L, 5L)
      .select(col("da"), col("db"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "planted partial dup found")
    assert(pairs.forall { case (a, b) => a < 2 && b < 2 },
      s"boilerplate group produced pairs: $pairs")
  }
}
