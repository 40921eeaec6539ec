package graft

import org.apache.spark.sql.functions.col

import graft.tools.Ladder

class LadderSpec extends SparkTestBase {
  /** A test-sized first rung per entry, large enough for its planted truths. */
  private val testSizes = Map(
    "burst" -> 20000L, "dedup" -> 2000L, "hex" -> 20000L, "image" -> 40L, "knn" -> 20000L,
    "orient" -> 500L, "rasterize" -> 100L, "sharedkey" -> 10000L, "spatial" -> 20000L, "winnow" -> 500L)

  test("every ladder has a test size") {
    assert(testSizes.keySet == Ladder.entries.keySet)
  }

  for ((name, size) <- testSizes.toSeq.sorted) {
    test(s"$name: the first rung's build and check pass at a test size") {
      val e = Ladder.entries(name)
      val results = Ladder.run(spark, name, e, Seq(e.rungs.head.copy(size = size)))
      assert(Ladder.passed(results), results.map(_.json(4)).mkString("\n"))
      val r = results.head
      assert(r.sampled.get.loads.size == graft.tools.Profile.Samples)
      assert(r.facts.nonEmpty)
    }
  }

  test("a planted truth that does not hold fails the run") {
    val e = Ladder.entries("burst")
    val lossy = e.copy(build = (s, r) => e.build(s, r).where(col("device") =!= 0L))
    val results = Ladder.run(spark, "burst", lossy, Seq(Ladder.Rung("clean", 20000L)))
    assert(!Ladder.passed(results))
    assert(results.head.error.exists(_.contains("planted truth")), results.head.error)
    assert(results.head.sampled.isDefined)
  }
}
