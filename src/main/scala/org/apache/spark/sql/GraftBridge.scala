package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into package-private Spark API. The `private[sql]` Column ⇄
  * Expression converters are the supported way for an extension library
  * to wrap custom Catalyst expressions as user-facing `Column`s on Spark
  * 4's split Column API; the listener-bus drain lets `graft.Metrics` read
  * a query's counters once every event of that query has landed. Kept to
  * exactly these three forwarders. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
