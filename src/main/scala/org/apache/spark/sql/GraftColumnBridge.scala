package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{AbstractDataType, DataType, NullType}

/** Bridge to the classic Column <-> catalyst Expression conversion,
  * which Spark 4 marks private[sql]. This is the minimal, standard
  * pattern for libraries that call their own kernels from Catalyst.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  // converted now, not at analysis: the SQL function registry uses a
  // builder's expression as it is
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  /** Input types that an argument must already have, nullability
    * aside: no implicit cast applies to them (Spark would convert a
    * struct by field position and widen its fields), so any other type
    * fails analysis. */
  def exactTypes(types: Seq[DataType]): Seq[AbstractDataType] = types.map(Exact)

  // Spark's last-resort implicit cast goes to an input type's default
  // concrete type; nothing but NULL casts to NullType, so none applies
  private case class Exact(t: DataType) extends AbstractDataType {
    override private[sql] def defaultConcreteType: DataType = NullType
    override private[sql] def acceptsType(other: DataType): Boolean =
      other.asNullable == t.asNullable
    override private[sql] def simpleString: String = t.simpleString
  }
}
