package graft.sql

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{SparkEntry, SparkTestBase}

/** Hidden eager jobs carry a `graft:<Operator>` job description. */
class JobsSpec extends SparkTestBase {

  private val Description = "spark.job.description"
  private val Marker = "graft.spec.phase"

  test("described sets graft:<operator>, then restores the description, no other property") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Description, "outer")
    sc.setLocalProperty(Marker, "kept")
    try {
      val seen = Jobs.described(spark, "Op.inner") {
        (sc.getLocalProperty(Description), sc.getLocalProperty(Marker))
      }
      assert(seen == ("graft:Op.inner", "kept"))
      assert(sc.getLocalProperty(Description) == "outer")
      intercept[IllegalStateException](
        Jobs.described(spark, "Op.fails")(throw new IllegalStateException))
      assert(sc.getLocalProperty(Description) == "outer")
    } finally {
      sc.setLocalProperty(Description, null)
      sc.setLocalProperty(Marker, null)
    }
  }

  test("every construction-time job of q24_jaccard_pairs carries a graft: description") {
    val sc = spark.sparkContext
    val descriptions = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Marker) == "construct"))
          descriptions.synchronized(
            descriptions += String.valueOf(e.properties.getProperty(Description)))
    }
    GraftBus.drain(sc)
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(Marker, "construct")
      SparkEntry.queries("q24_jaccard_pairs")(spark, sf())
    } finally {
      sc.setLocalProperty(Marker, null)
      GraftBus.drain(sc)
      sc.removeSparkListener(l)
    }
    val ds = descriptions.synchronized(descriptions.toList)
    assert(ds.nonEmpty)
    assert(ds.forall(_.startsWith("graft:")), ds.mkString("\n"))
  }
}
