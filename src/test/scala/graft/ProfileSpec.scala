package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.tools.Profile

class ProfileSpec extends SparkTestBase {
  private lazy val records: Map[String, Row] = {
    val lines = Seq("q24_jaccard_pairs", "q30_multimodal_meta", "q68_point_in_polygon", "q99_no_such_query")
      .map(Profile.record(spark, sf(), _))
    import spark.implicits._
    spark.read.json(lines.toDS()).collect().map(r => r.getAs[String]("target") -> r).toMap
  }

  private def median(r: Row, metric: String): Double =
    r.getAs[Row]("metrics").getAs[Row](metric).getAs[Double]("median")

  test("hidden construction jobs are attributed to construction") {
    // one parquet footer job, then its localCheckpoint and friends
    assert(median(records("q24_jaccard_pairs"), "phase.construct_jobs") > 1)
    // no parquet read (its footer job) and no eager operator work
    assert(median(records("q30_multimodal_meta"), "phase.construct_jobs") == 0)
  }

  test("kernel occurrences are read from the final plan") {
    val kernels = records("q68_point_in_polygon").getAs[Row]("plan").getAs[Row]("kernels")
    assert(kernels.getAs[Long]("spatialkernels.pointinpolygon(") >= 1)
  }

  test("every kernel entry counts its own call") {
    import graft.sql.Kernel
    val df = spark.range(4).select(
      col("id"),
      concat(lit("ab cd "), col("id").cast("string")).as("t"),
      col("id").cast("double").as("x"),
      array(struct(lit(0.0).as("x"), lit(0.0).as("y")), struct(lit(2.0).as("x"), lit(0.0).as("y")),
        struct(lit(0.0).as("x"), lit(2.0).as("y"))).as("vs"))
    val ws = Kernel.words(col("t"))
    val calls = Map(
      "textkernels.winnowfingerprints(" -> Kernel.winnowFp(col("t"), 3, 2),
      "textkernels.simhash60(" -> Kernel.simhash60(ws),
      "textkernels.minhashsigwords(" -> Kernel.minhashSigWords(ws, 4, 2),
      "textkernels.shinglehash32(" -> Kernel.shingleHash32(ws, 2),
      "bpekernel.encodetokens(" -> Kernel.bpeEncode(ws, Seq("a" -> "b")),
      "hashkernels.md5slice(" -> Kernel.md5Prefix(col("t").cast("binary"), 8),
      "spatialkernels.pointinpolygon(" -> Kernel.pointInPolygon(col("x"), col("x"), col("vs")),
      "spatialkernels.hexcell(" -> Kernel.hexCell(col("x"), col("x"), 1.0),
      "veckernels.hammingwide(" -> Kernel.hammingWide(array(col("id")), array(col("id"))),
      "textkernels.words(" -> ws,
      "textkernels.bigrams(" -> Kernel.bigrams(ws))
    assert(calls.keySet == Profile.Kernels.toSet)
    for ((kernel, call) <- calls) {
      val q = df.select(call.as("k"))
      q.collect()
      assert(Profile.kernelCounts(q.queryExecution).toMap.apply(kernel) >= 1, kernel)
    }
  }

  test("an unknown query yields an error record") {
    val r = records("q99_no_such_query")
    assert(r.getAs[String]("error") != null)
    assert(r.getAs[Row]("metrics") == null)
  }

  test("every record carries samples, loadavg and every layer") {
    val metrics = Seq("phase.construct_s", "phase.construct_jobs", "phase.plan_s", "phase.exec_s",
      "exec.jobs", "exec.stages", "exec.run_s", "exec.cpu_s", "exec.utilization", "exec.gc_s",
      "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes")
    val plan = Seq("shuffle_stages", "broadcast_stages", "reused_exchanges", "kernels", "hof_markers", "text")
    for ((name, r) <- records if r.getAs[String]("error") == null) {
      assert(r.getAs[Long]("nproc") >= 1, name)
      assert(r.getAs[Long]("samples") == Profile.Samples, name)
      assert(r.getSeq[Double](r.fieldIndex("loadavg")).size == Profile.Samples, name)
      val m = r.getAs[Row]("metrics")
      for (k <- metrics) {
        val s = m.getAs[Row](k)
        val values = s.getSeq[Double](s.fieldIndex("values"))
        assert(values.size == Profile.Samples, s"$name $k")
        assert(values.forall(_ >= 0), s"$name $k")
      }
      val p = r.getAs[Row]("plan")
      plan.foreach(k => assert(p.schema.fieldNames.contains(k) && !p.isNullAt(p.fieldIndex(k)), s"$name $k"))
      assert(Profile.Kernels.forall(p.getAs[Row]("kernels").schema.fieldNames.contains), name)
    }
    assert(records.size == 4)
  }
}
