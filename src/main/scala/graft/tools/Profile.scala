package graft.tools

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

import graft.{Bench, ScalingBench, SparkEntry}

/** The one profiling entry point: prints one JSON line per target (a
  * `SparkEntry.queries` name or `flagship`; all 82 queries when no
  * argument is given) with the layered breakdown of `Samples` cold runs
  * in one session, under the per-layer metric names of `perfbench`:
  *  - `phase.*`: DataFrame construction wall and the jobs it ran (eager
  *    work inside operators), planning (`qe.tracker` phases after
  *    construction) and execution (action wall minus planning);
  *  - `exec.*`: executor work of every job the sample started, with
  *    utilization = run time / (sample wall x cores);
  *  - `plan`: facts from the final adaptive plan — distinct shuffle and
  *    broadcast query stages, `ReusedExchange` count, kernel occurrence
  *    counts (a kernel appearing more often than its logical arity means
  *    a branch failed to canonicalize and AQE re-ran it) — plus the
  *    interpreted higher-order-function markers of the optimized plan.
  *
  * A failing target yields a record with an `error` field. Run:
  * `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile [target ...]"`
  * (cores: `SPARK_GRAFT_CPUS`, else every available processor). */
object Profile {
  val Samples = 3

  /** The kernel calls counted in the final plan, each as its rendered
    * call `<owner>.<method>(` lower-cased: a plan prints a kernel call
    * as `static_invoke(graft.sql.<Owner>.<method>(...))`. */
  val Kernels: Seq[String] = Seq(
    "textkernels.winnowfingerprints(", "textkernels.simhash60(", "textkernels.minhashsigwords(",
    "textkernels.shinglehash32(", "bpekernel.encodetokens(", "hashkernels.md5slice(",
    "spatialkernels.pointinpolygon(", "spatialkernels.hexcell(", "veckernels.hammingwide(",
    "textkernels.words(", "textkernels.bigrams(")

  /** Lowercased optimized-plan text of CodegenFallback per-row interpreters. */
  private val HofMarkers: Seq[String] = Seq(
    "lambdafunction", "zip_with", "aggregate(", "transform(", "array_min(transform", "exists(")

  private val PhaseKey = "graft.profile.phase"

  /** Executor work of the jobs started while `PhaseKey` was set. */
  private final class Counters {
    val stageIds = mutable.Set.empty[Int]
    var constructJobs, jobs, stages, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }

  // one bus thread delivers a listener's events, and every sample drains
  // the bus before it reads or replaces `c`
  private final class Listener extends SparkListener {
    @volatile var c = new Counters
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).foreach { phase =>
        if (phase == "construct") c.constructJobs += 1
        c.jobs += 1
        c.stages += e.stageInfos.size
        c.stageIds ++= e.stageIds
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (c.stageIds(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  private def phaseMs(qe: QueryExecution): Long = qe.tracker.phases.values.map(_.durationMs).sum

  /** One cold run of `build` and its action: metrics and the executed query. */
  private def sample(
      spark: SparkSession, l: Listener, build: () => DataFrame): (Seq[(String, Double)], QueryExecution) = {
    val sc = spark.sparkContext
    spark.sharedState.cacheManager.clearCache()
    GraftBus.drain(sc)
    l.c = new Counters
    try {
      sc.setLocalProperty(PhaseKey, "construct")
      val t0 = System.nanoTime()
      val qe = build().queryExecution
      val t1 = System.nanoTime()
      val analysisMs = phaseMs(qe)
      sc.setLocalProperty(PhaseKey, "exec")
      // consume every row: the last stage does its work only as its
      // iterator is drained
      qe.toRdd.foreachPartition((rows: Iterator[InternalRow]) => rows.foreach(_ => ()))
      val t2 = System.nanoTime()
      GraftBus.drain(sc)
      val c = l.c
      val (construct, action, plan) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (phaseMs(qe) - analysisMs) / 1e3)
      val cores = sc.defaultParallelism
      (Seq(
        "phase.construct_s" -> construct,
        "phase.construct_jobs" -> c.constructJobs.toDouble,
        "phase.plan_s" -> plan,
        "phase.exec_s" -> (action - plan),
        "exec.jobs" -> c.jobs.toDouble,
        "exec.stages" -> c.stages.toDouble,
        "exec.run_s" -> c.runMs / 1e3,
        "exec.cpu_s" -> c.cpuNs / 1e9,
        "exec.utilization" -> c.runMs / 1e3 / ((construct + action) * cores),
        "exec.gc_s" -> c.gcMs / 1e3,
        "exec.shuffle_read_bytes" -> c.shuffleRead.toDouble,
        "exec.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
        "exec.spill_bytes" -> c.spill.toDouble), qe)
    } finally sc.setLocalProperty(PhaseKey, null)
  }

  // only the Final Plan section: the trailing Initial Plan dump
  // re-prints every subtree and would inflate the counts
  private def finalPlan(qe: QueryExecution): String =
    qe.executedPlan.toString.split("== Initial Plan ==")(0)

  private def hits(lower: String, s: String): Int =
    lower.split(java.util.regex.Pattern.quote(s), -1).length - 1

  /** Occurrences of each [[Kernels]] call in the final plan of `qe`. */
  private[graft] def kernelCounts(qe: QueryExecution): Seq[(String, Int)] = {
    val lower = finalPlan(qe).toLowerCase
    Kernels.map(k => k -> hits(lower, k))
  }

  /** Facts of the final adaptive plan of an executed query, as JSON. */
  private def planFacts(qe: QueryExecution): String = {
    val text = finalPlan(qe)
    val lower = text.toLowerCase
    // AQE prints a reused stage's subtree in full at every reference,
    // with the same id: distinct ids are the stages actually executed
    def stages(kind: String): Int = s"${kind}querystage (\\d+)".r.findAllMatchIn(lower).map(_.group(1)).toSet.size
    val optimized = qe.optimizedPlan.toString.toLowerCase
    s"""{"shuffle_stages":${stages("shuffle")},"broadcast_stages":${stages("broadcast")},""" +
      s""""reused_exchanges":${hits(lower, "reusedexchange")},""" +
      s""""kernels":${kernelCounts(qe).map { case (k, n) => s"${str(k)}:$n" }.mkString("{", ",", "}")},""" +
      s""""hof_markers":${HofMarkers.filter(optimized.contains).map(str).mkString("[", ",", "]")},""" +
      s""""text":${str(text)}}"""
  }

  /** `Samples` cold runs of one `build`: per-metric values, the 1-min
    * loadavg before each run and the last run's executed query. */
  final case class Sampled(
      metrics: Seq[(String, Seq[Double])], loads: Seq[String], last: QueryExecution) {
    def median(metric: String): Double = {
      val vs = metrics.find(_._1 == metric).get._2.sorted
      vs(vs.size / 2)
    }
    def json: String =
      s""""samples":$Samples,"loadavg":${loads.map(_.toDoubleOption.fold("null")(_.toString)).mkString("[", ",", "]")},""" +
        s""""metrics":${metrics.map { case (k, vs) =>
          s"""${str(k)}:{"values":${vs.mkString("[", ",", "]")},"median":${median(k)}}"""
        }.mkString("{", ",", "}")}"""
  }

  /** The one timing loop of the profiling tools: `Samples` cold runs of
    * `build` and its action in `spark`, each after a loadavg read. */
  private[tools] def sampled(spark: SparkSession, build: () => DataFrame): Sampled = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    try {
      val runs = (1 to Samples).map(_ => (ToolUtil.loadavg(), sample(spark, l, build)))
      Sampled(runs.map(_._2._1).transpose.map(m => m.head._1 -> m.map(_._2)), runs.map(_._1), runs.last._2._2)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** The profile of one target as one JSON line; never throws. */
  def record(spark: SparkSession, sfDir: String, target: String): String = {
    val head = s""""target":${str(target)},"sf":${str(sfDir)},"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""cores":${spark.sparkContext.defaultParallelism}"""
    try {
      val build: () => DataFrame =
        if (target == "flagship") {
          val rows = Bench.corpusRowsFor(sfDir)
          val corpus = Bench.bucketedCorpus(spark, rows)
          () => ScalingBench.flagshipDF(spark, corpus, Some(rows))
            .select(xxhash64(col("z"), col("x"), col("y"), col("data")).as("h"))
            .agg(count(lit(1)).as("tiles"), expr("bit_xor(h)").as("parity"))
        } else {
          val fn = SparkEntry.queries(target)
          () => fn(spark, sfDir)
        }
      val s = sampled(spark, build)
      s"""{$head,${s.json},"plan":${planFacts(s.last)}}"""
    } catch {
      case NonFatal(e) => s"""{$head,"error":${str(e.toString)}}"""
    }
  }

  private[tools] def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("set SPARK_GRAFT_SF_DIR to an sf table directory"))
    val spark = Bench.mkSession(ToolUtil.cpus)
    val targets = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    try targets.foreach(t => println(record(spark, sfDir, t)))
    finally spark.stop()
  }
}
