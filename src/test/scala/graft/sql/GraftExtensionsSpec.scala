package graft.sql

import org.apache.spark.sql.SparkSessionExtensions

import graft.SparkTestBase

/** Both registration paths — `TileExpressions.register` on a live
  * session and the `spark.sql.extensions` entry point — expose the same
  * SQL functions. */
class GraftExtensionsSpec extends SparkTestBase {

  private val expected = Set(
    "tc_quadkey", "tc_cellid", "tc_hilbert",
    "tc_cellz", "tc_cellx", "tc_celly", "tc_hilbertx", "tc_hilberty",
    "tc_sorted_intersect_count", "tc_minhash_sig")

  /** The function names GraftExtensions injects. */
  private def injected: Set[String] = {
    val seen = Set.newBuilder[String]
    val ext = new SparkSessionExtensions {
      override def injectFunction(fd: FunctionDescription): Unit = {
        seen += fd._1.funcName
        super.injectFunction(fd)
      }
    }
    new GraftExtensions()(ext)
    seen.result()
  }

  test("register and the session extension expose the same function names") {
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("tc_")).toSet
    assert(registered == expected)
    assert(injected == expected)
    assert(TileExpressions.functions.map(_._1).distinct.size == expected.size)
  }
}
