package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge for the graft engine's custom
  * expressions. Spark 4 made these converters `private[sql]` (the Column
  * API is Connect-agnostic now), so third-party native expressions reach
  * them from inside the sql package tree — the standard pattern for
  * Catalyst extension libraries on Spark 4.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Declares `(array<double>, array<double>)` input types with implicit
  * casting (so raw `array<float>` embedding columns are cast, not
  * misread). Lives here because `AbstractDataType` — the `inputTypes`
  * signature — is `private[sql]` on Spark 4, so the override cannot be
  * written in an external package.
  */
trait ArrayDoubleBinaryInputTypes
  extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: org.apache.spark.sql.catalyst.expressions.BinaryExpression =>
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
}

/** `(array<double>, array<int>)` inputs with implicit casting — the ADC
  * lookup shape (distance table, code array); same `private[sql]`
  * placement reason.
  */
trait ArrayDoubleIntBinaryInputTypes
  extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: org.apache.spark.sql.catalyst.expressions.BinaryExpression =>
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType))
}

/** Unary sibling of [[ArrayDoubleBinaryInputTypes]]: one `array<double>`
  * input with implicit casting, same `private[sql]` placement reason.
  */
trait ArrayDoubleUnaryInputTypes
  extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: org.apache.spark.sql.catalyst.expressions.UnaryExpression =>
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
}
