package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor work attributed to one span: summed over the tasks of every
  * job the span's driver thread started. */
final class ExecStats {
  var jobs = 0L
  var stages = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  /** Task durations (ms) per stage, for the skew of the longest stage. */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: ExecStats): Unit = {
    jobs += o.jobs; stages += o.stages; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
  }

  /** max / median task time of the stage with the largest summed task
    * time; 1.0 when no stage ran. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }
}

/** Facts from the final (post-AQE) physical plans a span executed. */
final class PlanStats {
  var plans = 0L
  var planMs = 0L
  var exchanges = 0L
  var reused = 0L
  var broadcasts = 0L
  var generateRows = 0L
  var joinRows = 0L

  def add(o: PlanStats): Unit = {
    plans += o.plans; planMs += o.planMs; exchanges += o.exchanges
    reused += o.reused; broadcasts += o.broadcasts
    generateRows += o.generateRows; joinRows += o.joinRows
  }
}

final case class Span(
    id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, var endNs: Long = 0L) {
  val exec = new ExecStats
  val plan = new PlanStats
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Benchmark-owned tracer: spans opened around each call into a layer,
  * plus a SparkListener (executor task metrics per job) and a
  * QueryExecutionListener (final plans, planning phases) whose events
  * are attributed to the innermost span open on the driver when the job
  * or query started. Spans stay in memory and are written once at the
  * end. Detached (the default), `span` only times its body. */
final class Tracer(spark: SparkSession, val cores: Int) {
  private val sc = spark.sparkContext
  private val PropKey = "perfbench.span"
  private var attached = false
  private var nextId = 1
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  var pass = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.exec.synchronized {
          s.exec.jobs += 1
          s.exec.stages += e.stageInfos.size
        }
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) s.exec.synchronized {
          val x = s.exec
          x.runMs += m.executorRunTime
          x.cpuNs += m.executorCpuTime
          x.gcMs += m.jvmGCTime
          x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          x.input += m.inputMetrics.bytesRead
          x.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      current.foreach(s => s.plan.synchronized(s.plan.add(Tracer.planStats(qe))))
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // Query-execution events carry no job properties: they are attributed
  // to the span open when they are delivered, which is exact because
  // every span drains the listener bus before it closes.
  @volatile private var current: Option[Span] = None

  private def spanOf(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(q => Option(q.getProperty(PropKey)))
      .flatMap(id => Option(byId.get(id.toInt)))

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Time `body`; when attached, record it as a span whose jobs, tasks
    * and plans are those started inside it (nested spans included). */
  def span[T](name: String)(body: => T): (T, Double) = {
    if (!attached) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    drain()
    val parent = stack.headOption
    val s = Span(nextId, name, parent.map(_.id).getOrElse(0), pass, System.nanoTime())
    nextId += 1
    byId.put(s.id, s)
    spans += s
    stack.push(s)
    current = Some(s)
    val prevProp = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, s.id.toString)
    try {
      val r = body
      s.endNs = System.nanoTime()
      (r, s.seconds)
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      drain()
      stack.pop()
      current = stack.headOption
      sc.setLocalProperty(PropKey, prevProp)
      // a parent's totals include its children's work
      parent.foreach { p =>
        p.exec.synchronized(p.exec.add(s.exec))
        p.plan.synchronized(p.plan.add(s.plan))
      }
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Tracer {
  /** Every operator of a final physical plan, descending through
    * adaptive wrappers, query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  def planStats(qe: QueryExecution): PlanStats = {
    val s = new PlanStats
    s.plans = 1
    s.planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val ns = nodes(qe.executedPlan)
    def metric(n: SparkPlan): Long =
      n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    ns.foreach {
      case _: ReusedExchangeExec => s.reused += 1
      case _: ShuffleExchangeLike => s.exchanges += 1
      case _: BroadcastExchangeLike => s.broadcasts += 1
      case g: GenerateExec => s.generateRows += metric(g)
      case j @ (_: HashJoin | _: SortMergeJoinExec) => s.joinRows += metric(j)
      case _ =>
    }
    s
  }
}
