package graft.sql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions available in ANY session created with
  * `--conf spark.sql.extensions=graft.sql.GraftExtensions`
  * (the spark-submit path on a real cluster; tests use
  * TileExpressions.register on an existing session instead). Both read
  * the one table, `TileExpressions.functions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    TileExpressions.functions.foreach { case (name, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        build))
    }
}
