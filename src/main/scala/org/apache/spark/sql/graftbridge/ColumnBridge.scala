package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's `private[sql]` Column ↔ Expression
  * conversions (org.apache.spark.sql.classic.ExpressionUtils). Spark 4
  * removed the public `Column.expr` / `new Column(expr)` surface when
  * Column became Connect-agnostic; third-party native expressions reach
  * the classic conversions from inside the sql package namespace — the
  * standard pattern for open-source Spark extension libraries. The
  * `private[spark]` listener-bus drain that QueryBench's job counts need
  * lives here for the same reason. This is the ONLY file outside the
  * graft namespace; everything else uses the public API. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native expression under a SQL-callable name on an
    * existing session (SparkSessionExtensions covers only sessions built
    * with the extension config; this reaches the session registry
    * directly for library-style opt-in registration). */
  def registerExpression(spark: org.apache.spark.sql.SparkSession, name: String,
                         builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Waits until the listener bus has delivered every posted event, so a
    * listener's counts are complete when read (the bus is
    * `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
