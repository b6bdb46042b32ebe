package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private API: the `sql` package's
  * `private[sql]` Column factories — the way to lift a custom Catalyst
  * `Expression` into the public Column API in Spark 4.x (Column wraps a
  * ColumnNode, not an Expression, since the sql-api split) — and the
  * `private[spark]` listener bus.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every listener event posted so far has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
