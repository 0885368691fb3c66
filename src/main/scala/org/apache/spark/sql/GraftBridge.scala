package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` / `private[spark]` members — the standard
  * pattern for libraries that define native Catalyst expressions (a
  * Column must wrap an Expression, and in Spark 4 that constructor is
  * package-private). Only conversion and the listener-bus drain live
  * here; all graft logic stays in graft.*.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
