package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Column ⇄ catalyst-Expression bridge for graft's native expressions.
 * `classic.ExpressionUtils` is `private[sql]` in Spark 4, so — like other
 * Spark extension libraries — this one-file shim lives in the
 * `org.apache.spark.sql` package to re-export the two conversions the
 * public DataFrame API no longer exposes directly.
 */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
