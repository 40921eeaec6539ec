package graft.engine

import java.nio.file.Files

import org.apache.spark.{GraftBus, GraftTaskEnds, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.BoundingPyramid
import graft.sql.{TileMetrics, TileMetricsProbe}

/** The metrics node's guarantees: exactly one metric row per drained
  * partition whatever the task attempts, counts on real plans, and a
  * tile-table read that starts no job. */
class CheckpointSpec extends SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft-ckpt").toString

  /** Jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    var jobs = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
    }
    GraftBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftBus.drain(sc)
      (out, l.synchronized(jobs))
    } finally sc.removeSparkListener(l)
  }

  test("task-end events give one metric row per drained partition, successful attempts only") {
    val p = new TileMetricsProbe(spark.sparkContext)
    def counts(rows: Long, errors: Long, drained: Boolean) =
      Seq(p.rows.id -> rows, p.errors.id -> errors, p.nanos.id -> 1000L) ++
        (if (drained) Seq(p.drained.id -> 1L) else Nil)
    val c = new PartitionMetrics(p)
    p.partitions = 3
    Seq(
      // partition 0: attempt 0 fails after draining, attempt 1 succeeds
      GraftTaskEnds(0, 0, GraftTaskEnds.failure, counts(99, 9, drained = true)),
      GraftTaskEnds(0, 1, Success, counts(10, 1, drained = true)),
      // partition 1: two speculative attempts both succeed
      GraftTaskEnds(1, 0, Success, counts(20, 0, drained = true)),
      GraftTaskEnds(1, 1, Success, counts(20, 0, drained = true), speculative = true),
      // partition 2: succeeded without draining its input (a limit)
      GraftTaskEnds(2, 0, Success, counts(5, 0, drained = false))
    ).foreach(c.onTaskEnd)
    assert(c.drained == Seq(PartitionMetric(0, 10, 1, 1000), PartitionMetric(1, 20, 0, 1000)))
    // an undrained partition makes the node's total unknown
    assert(c.total.isEmpty)
    c.onTaskEnd(GraftTaskEnds(2, 1, Success, counts(5, 0, drained = true)))
    assert(c.total.contains(35L))
  }

  test("instrument and flush: one row per partition, rows and errors counted on the real plan") {
    val s = spark
    import s.implicits._
    val mpath = tmp() + "/m"
    val df = (0 until 100).map(i => (i, if (i % 10 == 0) "bad" else null))
      .toDF("i", "error").repartition(4)
    val inst = Checkpoint.instrument(df, "ck-1", "sink", mpath)
    Stores.writeNull(inst)
    assert(Checkpoint.flush("ck-1", "sink") == 4L)
    // nothing left registered: a second flush appends nothing
    assert(Checkpoint.flush("ck-1", "sink") == 0L)
    val m = Checkpoint.readMetrics(spark, mpath).collect()
    assert(m.map(_.getAs[Int]("partition_id")).sorted.toSeq == (0 until 4))
    assert(m.map(_.getAs[Long]("rows")).sum == 100L)
    assert(m.map(_.getAs[Long]("errors")).sum == 10L)
    assert(m.forall(_.getAs[String]("status") == "done"))
  }

  test("a counting node keeps its child's partitioning; a limit leaves its total unknown") {
    val df = spark.range(0, 1000, 1, 4).toDF("id").repartition(4, col("id"))
    val (counted, probe) = TileMetrics.over(df, countErrors = false)
    val c = new PartitionMetrics(probe)
    spark.sparkContext.addSparkListener(c)
    try {
      // the aggregate reuses the repartition's hash partitioning: one exchange
      val agg = counted.groupBy("id").count()
      assert(agg.collect().length == 1000)
      val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, plan)
      assert(plan.contains("TileMetrics"), plan)
      GraftBus.drain(spark.sparkContext)
      assert(c.total.contains(1000L))
    } finally spark.sparkContext.removeSparkListener(c)
    val (limited, probe2) =
      TileMetrics.over(spark.range(0, 1000, 1, 4).toDF("id"), countErrors = false)
    val c2 = new PartitionMetrics(probe2)
    spark.sparkContext.addSparkListener(c2)
    try {
      limited.limit(1).collect()
      GraftBus.drain(spark.sparkContext)
      assert(c2.total.isEmpty)
    } finally spark.sparkContext.removeSparkListener(c2)
  }

  test("TileTable.read takes its schema from a footer: no job, same schema as inference") {
    val sink = tmp() + "/tiles"
    Pipeline.copyJob(spark, Corpus.generate(spark, 100).toDF(), BoundingPyramid.full(2, 3),
      sink, tmp() + "/m", "ck-read")
    val (df, jobs) = jobsDuring(TileTable.read(spark, sink))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(sink).schema)
    assert(df.where(col("z") === 3).count() ==
      spark.read.parquet(sink).where(col("z") === 3).count())
  }
}
