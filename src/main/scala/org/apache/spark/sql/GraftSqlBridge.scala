package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Compile-time bridge into Spark's package-private classic Column ↔
  * Expression conversions (Spark 4 moved them behind
  * `org.apache.spark.sql.classic.ExpressionUtils`). Lets graft's custom
  * Catalyst expressions surface as ordinary `Column`s without going through
  * the SQL parser. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's own `NULL_MAP_KEY` error, for kernels that build maps. */
  def nullMapKeyError(): Throwable =
    errors.QueryExecutionErrors.nullAsMapKeyNotAllowedError()
}
