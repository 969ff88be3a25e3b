package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private Column<->Expression converters so
  * graft's native Catalyst expressions can be exposed as `Column`s (the same
  * seam Spark connector libraries use).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** the error Spark's ANSI division by zero raises */
  def divideByZero(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)
}
