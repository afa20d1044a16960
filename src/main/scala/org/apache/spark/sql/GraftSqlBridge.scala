package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal package-placed bridge to the `private[sql]` conversions the
  * engine's native expressions need: public `Column`s to Catalyst
  * `Expression`s and back. This is the standard extension seam used by
  * Spark-native libraries — no Spark internals are modified, only
  * constructed.
  */
object GraftSqlBridge {

  /** Eager ColumnNode→Expression conversion (ExpressionUtils.expression
    * returns a lazy ColumnNodeExpression wrapper that would reach
    * executors unconverted and non-serializable).
    */
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  /** Expression→Column (the inverse of [[expression]]) — for custom
    * expressions whose construction carries non-literal driver state
    * (e.g. a broadcast-sized lookup array) and so can't ride the
    * registered-function path.
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
