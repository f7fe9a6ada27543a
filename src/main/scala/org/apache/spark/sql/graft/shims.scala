package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge between custom Catalyst expressions and the public Column API.
  * Spark 4 wraps columns in ColumnNodes; the classic converter is
  * `private[sql]`, so this one-liner lives under org.apache.spark.sql.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an ALREADY-RUNNING session (extensions via
    * `spark.sql.extensions` only bind at session creation).
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression
  ): Unit =
    classic(spark).sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)

  /** Drain the async listener bus — `SparkContext.listenerBus` is
    * `private[spark]`, and per-query metrics attribution (ShuffleAudit)
    * needs every TaskEnd event delivered before reading the counters.
    */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A DataFrame over catalyst rows that conform to `schema`, with no
    * `Row` conversion (`internalCreateDataFrame` is `private[sql]`).
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rows, schema)

  /** Runs `body` with the session's SQL confs set as local properties of
    * the calling thread, so the tasks of any job `body` submits outside a
    * Dataset action read them instead of the defaults.
    */
  def withSQLConfPropagated[T](spark: SparkSession)(body: => T): T =
    SQLExecution.withSQLConfPropagated(classic(spark))(body)

  private def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}
