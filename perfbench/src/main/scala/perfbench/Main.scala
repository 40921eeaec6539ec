package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run needs to know: the seed, the scratch directory every
  * table, sink and log goes under, the query data directory, and the
  * core count the session is sized for. `tiny` shrinks every input for
  * the smoke test. */
final case class Ctx(seed: Long, tmp: String, data: String, cores: Int, tiny: Boolean) {
  /** First corpus row id of this seed's id range (disjoint ranges of
    * 2^24 ids, so every seed draws other images). */
  def idBase: Long = java.lang.Math.floorMod(graft.engine.Corpus.splitmix64(seed), 1L << 16) << 24
}

/** One closed-loop pass: `items` units of work done in `seconds` of
  * pass wall, with the operations it checked and how many failed. */
final case class PassResult(items: Double, seconds: Double, attempted: Long, failed: Long)

trait Workload {
  /** Generate and materialize the inputs (timed as set-up). */
  def setup(): Unit
  /** Reference results and one-off checks, untimed, after set-up;
    * returns (checks attempted, checks failed). */
  def prepare(): (Long, Long) = (0L, 0L)
  def pass(t: Tracer, k: Int): PassResult
  /** Untimed passes before the loop (JIT and codegen keep settling over
    * the first passes). With none, the first, cold pass is the only one
    * measured. */
  def warmups: Int
  /** Per-layer metrics from "prefix" actions (traced run only). */
  def layers(t: Tracer, passes: Seq[Int]): Seq[(String, Double, String)]
  def close(): Unit
}

/** The benchmark's JVM side: set up, warm up, run the closed loop for
  * `--seconds`, and write the result (and, traced, the span file) as
  * JSON. See README.md for the workloads and metrics. */
object Main {
  def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${ctx.tmp}/warehouse")
      .config("spark.local.dir", s"${ctx.tmp}/spark-local")
      .config("spark.eventLog.enabled", "false")
      .config("spark.hadoop.hadoop.tmp.dir", s"${ctx.tmp}/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.sql.TileExpressions.register(s)
    s
  }

  def make(name: String, spark: SparkSession, ctx: Ctx): Workload = name match {
    case "tiles" => new Tiles(spark, ctx)
    case "copy" => new Copy(spark, ctx)
    case "spatial" => new SpatialScene(spark, ctx)
    case "queries" => new QueryMix(spark, ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (steal, total) CPU ticks since boot: steal is time the hypervisor
    * gave to other guests, the noise this benchmark cannot control. */
  def cpuTicks(): (Double, Double) = scala.util.Try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+").drop(1).map(_.toDouble)
    (f(7), f.take(8).sum)
  }.getOrElse((0.0, 0.0))

  def loadavg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** Heap in use after full GCs, repeated (up to six) while it still
    * falls by more than 1 MB: each GC lets Spark's ContextCleaner
    * release broadcasts and shuffles that only a later GC collects. */
  private def heapMb(): Double = {
    def used(): Double = {
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1e6
    }
    var prev = Double.MaxValue
    var cur = used()
    var k = 1
    while (k < 6 && cur < prev - 1.0) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      k += 1
    }
    cur
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val out = opt("out")
    val ctx = Ctx(opt("seed").toLong, opt("tmp"), opt("data"),
      Runtime.getRuntime.availableProcessors(), opt.getOrElse("tiny", "0") == "1")
    val load0 = loadavg()

    // set-up: session start + input generation and materialization,
    // three times; the median is reported, the last one is kept
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    for (k <- 1 to 3) {
      val t0 = System.nanoTime()
      spark = session(ctx)
      w = make(workload, spark, ctx)
      w.setup()
      setups += (System.nanoTime() - t0) / 1e9
      if (k < 3) { w.close(); spark.stop() }
    }
    var attempted = 0L
    var failed = 0L
    val (pa, pf) = w.prepare()
    attempted += pa; failed += pf
    val tracer = new Tracer(spark, ctx.cores)
    val warm = (1 to w.warmups).map { _ => val r = w.pass(tracer, 0); System.gc(); r }
    warm.foreach { r => attempted += r.attempted; failed += r.failed }
    val setupS = median(setups.toSeq) + warm.map(_.seconds).sum
    System.err.println(s"[perfbench] set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
      s"warm-up passes ${warm.map(r => f"${r.seconds}%.2f").mkString(" ")} s")

    final case class Sample(pass: Int, r: PassResult)
    var k = 0
    def run(on: Boolean): Sample = {
      k += 1
      if (on) tracer.attach() else tracer.detach()
      tracer.pass = k
      val (r, _) = tracer.span("pass")(w.pass(tracer, k))
      tracer.detach()
      attempted += r.attempted; failed += r.failed
      System.gc() // every pass starts on a collected heap
      Sample(k, r)
    }

    // closed loop, one job in flight, tracing off, until `seconds` have
    // passed; a workload without warm-up is measured on its cold pass
    val ticks0 = cpuTicks()
    val t0 = System.nanoTime()
    val samples = mutable.ArrayBuffer(run(false))
    while (w.warmups > 0 && ((System.nanoTime() - t0) / 1e9 < seconds || samples.size < 2))
      samples += run(false)
    val ticks1 = cpuTicks()
    val steal = (ticks1._1 - ticks0._1) / math.max(1.0, ticks1._2 - ticks0._2)

    /** End-to-end metrics of passes `ss`, read right after them. */
    def e2e(ss: Seq[Sample]): Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("items_per_s", median(ss.map(s => s.r.items / s.r.seconds)), "1/s"),
      ("retained_heap_mb", heapMb(), "MB"))
    val plain = e2e(samples.toSeq)

    val metrics =
      if (!traced) plain
      else {
        // traced passes against as many untraced ones of the same warmth
        // (after a cold pass, one more untraced pass); the traced passes
        // are the ones the layer metrics describe
        val (ref, untraced) =
          if (w.warmups > 0) (samples.toSeq, plain)
          else { val r = Seq(run(false)); (r, e2e(r)) }
        val tracedSamples = ref.map(_ => run(true))
        val withTrace = e2e(tracedSamples)
        val tracedPasses = tracedSamples.map(_.pass)
        tracer.attach()
        tracer.pass = -1
        val layerMetrics = Layers.common(tracer, tracedPasses) ++ w.layers(tracer, tracedPasses)
        tracer.detach()
        val overhead = withTrace.zip(untraced).collect {
          case ((n, a, u), (_, b, _)) if n != "setup_s" => (s"trace.overhead.$n", a - b, u)
        }
        val all = layerMetrics ++ overhead
        Json.writeTrace(s"$out/trace.json", workload, ctx, tracer, all, untraced, withTrace)
        all
      }
    System.err.println(s"[perfbench] passes ${samples.map(s => f"${s.r.seconds}%.2f").mkString(" ")} s")
    w.close()
    spark.stop()

    val host = Seq(
      "nproc" -> ctx.cores.toString,
      "master" -> Json.str(s"local[${ctx.cores}]"),
      "loadavg_before" -> load0.toString,
      "loadavg_after" -> loadavg().toString,
      "steal_frac" -> steal.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / 1e6).toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "seed" -> ctx.seed.toString,
      "passes" -> samples.size.toString)
    Json.writeResult(s"$out/result.json", attempted, failed, metrics, host)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")

  def writeResult(path: String, attempted: Long, failed: Long,
      ms: Seq[(String, Double, String)], host: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(path),
      s"""{"attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}, """ +
        s""""host": ${host.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")}}""" + "\n")

  def writeTrace(path: String, workload: String, ctx: Ctx, t: Tracer,
      layers: Seq[(String, Double, String)],
      plain: Seq[(String, Double, String)], traced: Seq[(String, Double, String)]): Unit = {
    val spans = t.spans.map { s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "pass": ${s.pass}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": ${s.exec.jobs}, """ +
        s""""task_run_ms": ${s.exec.runMs}, "shuffle_write_bytes": ${s.exec.shuffleWrite}, """ +
        s""""plans": ${s.plan.plans}, "plan_ms": ${s.plan.planMs}}"""
    }
    Files.writeString(Paths.get(path),
      s"""{"workload": ${str(workload)}, "seed": ${ctx.seed}, "cores": ${ctx.cores},\n""" +
        s""" "per_layer": ${metrics(layers)},\n "end_to_end_untraced": ${metrics(plain)},\n""" +
        s""" "end_to_end_traced": ${metrics(traced)},\n "spans": [\n  ${spans.mkString(",\n  ")}\n ]}""" + "\n")
  }
}

object Fs {
  def files(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  def deleteRec(d: java.io.File): Unit = {
    Option(d.listFiles()).toSeq.flatten.foreach(deleteRec)
    d.delete()
  }
}
