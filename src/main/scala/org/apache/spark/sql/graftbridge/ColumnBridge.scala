package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. `ExpressionUtils` is `private[sql]` in
  * Spark 4, so graft's custom Catalyst expressions wrap/unwrap through
  * this one-file shim living in Spark's package namespace (the same
  * technique used by frameless/delta for their expression surfaces). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The schema with every field, element and value nullable — what a
    * file source reads back (`StructType.asNullable` is `private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Drain the listener bus (`listenerBus` is `private[spark]`): lets
    * measurement mains wait for async stage/task events instead of racing
    * them with a fixed sleep. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Register a SQL function on an ALREADY-RUNNING session (the
    * `SparkSessionExtensions` path only applies at session build time).
    * `sessionState` is `private[sql]`, hence this bridge method. */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)
}
