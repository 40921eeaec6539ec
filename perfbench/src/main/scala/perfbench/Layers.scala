package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

object Layers {
  type Metric = (String, Double, String)

  /** Count and order-independent hash of every non-map column: forces
    * each column of `df` to be computed (a bare count lets the
    * optimizer prune payload columns). */
  def drain(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.filterNot(_.dataType.isInstanceOf[MapType]).map(f => col(f.name))
    val r = df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** A prefix action timed twice, keeping the faster run: the first
    * run of a plan also pays for code generation. */
  def best[T](t: Tracer, name: String)(body: => T): (T, Double) = {
    val (_, a) = t.span(name)(body)
    val (r, b) = t.span(name)(body)
    (r, math.min(a, b))
  }

  /** phase.*, exec.* and plan.* for every workload: medians over the
    * traced passes of the pass span and its `construct`/`action`
    * children (the workload's DataFrame building and its actions). */
  def common(t: Tracer, passes: Seq[Int]): Seq[Metric] = {
    def per(f: Int => Double): Double = Main.median(passes.map(f))
    def named(p: Int, n: String): Seq[Span] = t.spans.filter(s => s.pass == p && s.name == n).toSeq
    def pass(p: Int): Span = named(p, "pass").head
    def x(f: ExecStats => Double): Double = per(p => f(pass(p).exec))
    def pl(f: PlanStats => Double): Double = per(p => f(pass(p).plan))
    Seq(
      ("phase.construct_s", per(p => named(p, "construct").map(_.seconds).sum), "s"),
      ("phase.construct_jobs", per(p => named(p, "construct").map(_.exec.jobs).sum.toDouble), "count"),
      ("phase.plan_s", per(p => named(p, "action").map(_.plan.planMs).sum / 1e3), "s"),
      ("phase.exec_s", per(p => named(p, "action").map(s => s.seconds - s.plan.planMs / 1e3).sum), "s"),
      ("exec.utilization", per { p =>
        val s = pass(p); s.exec.runMs / 1e3 / (s.seconds * t.cores)
      }, "ratio"),
      ("exec.cpu_s", x(_.cpuNs / 1e9), "s"),
      ("exec.gc_s", x(_.gcMs / 1e3), "s"),
      ("exec.jobs", x(_.jobs.toDouble), "count"),
      ("exec.stages", x(_.stages.toDouble), "count"),
      ("exec.shuffle_write_bytes", x(_.shuffleWrite.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", x(_.shuffleRead.toDouble), "bytes"),
      ("exec.spill_bytes", x(_.spill.toDouble), "bytes"),
      ("exec.input_bytes", x(_.input.toDouble), "bytes"),
      ("exec.task_skew", x(_.taskSkew), "ratio"),
      ("plan.exchanges", pl(_.exchanges.toDouble), "count"),
      ("plan.reused_exchanges", pl(_.reused.toDouble), "count"),
      ("plan.broadcasts", pl(_.broadcasts.toDouble), "count"))
  }
}
