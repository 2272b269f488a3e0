package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Minimal access bridge: Spark 4 hides Expression↔Column conversion behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`). Custom
  * Catalyst expressions (e.g. [[graft.functions.expressions.DotProductLong]])
  * need exactly these two conversions to surface as `Column` functions, so we
  * expose them from inside the sql package — the same pattern third-party
  * Spark extensions use. The input types below are the other half: the
  * kernels declare their inputs through `ExpectsInputTypes`, whose
  * abstract types Spark also keeps `private[sql]`. Nothing else from the
  * internals is touched.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's `private[sql]` base of the types `ExpectsInputTypes`
    * accepts: a concrete data type or one of the types below. */
  type InputType = AbstractDataType

  /** BYTE, SHORT, INT or BIGINT. */
  val IntegralType: AbstractDataType =
    org.apache.spark.sql.types.IntegralType

  /** Any one of `types`. */
  def anyOf(types: AbstractDataType*): AbstractDataType =
    TypeCollection(types: _*)

  /** The data types `accepts` holds for, shown as `name` in type-check
    * errors; for inputs no Spark type spells out. Never an implicit-cast
    * target. */
  def inputType(name: String)(accepts: DataType => Boolean)
      : AbstractDataType = new AbstractDataType {
    override private[sql] def defaultConcreteType: DataType =
      throw new UnsupportedOperationException(s"no default type for $name")
    override private[sql] def acceptsType(other: DataType): Boolean =
      accepts(other)
    override private[sql] def simpleString: String = name
  }
}
