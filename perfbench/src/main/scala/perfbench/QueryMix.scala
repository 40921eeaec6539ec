package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `queries`: a fixed mix of `SparkEntry.queries` over the sf0.01 tables
  * in data/, at least one per module, each run once per pass in a
  * seed-permuted order with the cache cleared before it. Each result is
  * written as parquet; run.py compares its order-independent hash with
  * the DuckDB oracle (`SparkEntry.oracleSql`). */
final class QueryMix(spark: SparkSession, ctx: Ctx) extends Workload {
  val mix: Seq[String] =
    if (ctx.tiny) Seq("q03_quadkey_agg", "q24_jaccard_pairs") else QueryMix.modules.keys.toSeq.sorted
  private val all = SparkEntry.queries
  // measured cold, as a query submitted to a fresh application runs:
  // construction and planning are most of its cost there
  val warmups = 0

  def setup(): Unit = {
    val missing = mix.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: $missing")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => mix.contains(k) }
    Files.writeString(Paths.get(s"${ctx.tmp}/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
  }

  def pass(t: Tracer, k: Int): PassResult = {
    val order = new scala.util.Random(ctx.seed * 1000003L + k).shuffle(mix)
    val t0 = System.nanoTime()
    val failed = order.count { name =>
      spark.sharedState.cacheManager.clearCache()
      try {
        t.span(s"q:$name") {
          val (df, _) = t.span("construct")(all(name)(spark, ctx.data))
          t.span("action")(df.write.mode("overwrite").parquet(s"${ctx.tmp}/qout/p$k/$name"))
        }
        false
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          true
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    PassResult(mix.size.toDouble, s, mix.size, failed)
  }

  def layers(t: Tracer, passes: Seq[Int]): Seq[Layers.Metric] = {
    def phases(qs: Seq[String], prefix: String): Seq[Layers.Metric] = {
      def per(f: Int => Double): Double = Main.median(passes.map(f))
      def child(p: Int, n: String): Seq[Span] = {
        val ids = t.spans.filter(s => s.pass == p && qs.contains(s.name.stripPrefix("q:"))).map(_.id).toSet
        t.spans.filter(s => ids(s.parent) && s.name == n).toSeq
      }
      Seq(
        (s"$prefix.construct_s", per(p => child(p, "construct").map(_.seconds).sum), "s"),
        (s"$prefix.construct_jobs", per(p => child(p, "construct").map(_.exec.jobs).sum.toDouble), "count"),
        (s"$prefix.plan_s", per(p => child(p, "action").map(_.plan.planMs).sum / 1e3), "s"),
        (s"$prefix.exec_s", per(p => child(p, "action").map(s => s.seconds - s.plan.planMs / 1e3).sum), "s"))
    }
    val byModule = QueryMix.Modules.flatMap { m =>
      phases(QueryMix.modules.collect { case (q, mm) if mm == m => q }.toSeq, s"q.$m")
    }
    val hidden = Seq("q24_jaccard_pairs" -> "q24", "q64_dedup_keep_best" -> "q64").flatMap {
      case (q, short) => phases(Seq(q), s"q.$short").filter(m => m._1.endsWith("construct_s") || m._1.endsWith("construct_jobs"))
    }
    byModule ++ hidden
  }

  def close(): Unit = ()
}

object QueryMix {
  val Modules: Seq[String] =
    Seq("core", "sql", "engine", "dedup", "ann", "text", "image", "multimodal", "sources", "streaming")

  /** The mix, each query mapped to the one module whose public function
    * does its main work. q24 and q64 carry the dedup lattice's hidden
    * construction-time jobs; q08 runs at low executor utilization on 4
    * cores. The mix is small enough for one pass to fit a run. */
  val modules: Map[String, String] = Map(
    "q02_point_assign" -> "core",
    "q03_quadkey_agg" -> "sql",
    "q08_anti_join_resume" -> "engine",
    "q24_jaccard_pairs" -> "dedup",
    "q64_dedup_keep_best" -> "dedup",
    "q28_knn_top20" -> "ann",
    "q21_doc_stats" -> "text",
    "q61_contenttype_sniff" -> "image",
    "q30_multimodal_meta" -> "multimodal",
    "q48_bsddb_roundtrip" -> "sources",
    "q19_sessionize" -> "streaming")
}
