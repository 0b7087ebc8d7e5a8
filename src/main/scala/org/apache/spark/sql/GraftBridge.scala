package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Bridge between graft's native Catalyst expressions and the public
  * `Column` API (Spark 4's Column wraps a ColumnNode; the constructors are
  * package-private, so extension libraries expose them from inside the
  * `org.apache.spark.sql` package — the same pattern Spark-native
  * libraries use).
  */
object GraftBridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** The error ANSI `Divide` raises on a zero divisor (DIVIDE_BY_ZERO). */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** Block until the listener bus has delivered every queued event
    * (`SparkContext.listenerBus` is package-private), so a listener's
    * counts cover every job and stage that has already ended.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Register a SQL function on a live session (the imperative counterpart
    * of `SparkSessionExtensions.injectFunction`, for sessions built
    * without `spark.sql.extensions`).
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
