package org.apache.spark.sql.graft

import org.apache.spark.{PartitionIdPassthrough, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, QueryExecution, SQLExecution, ShuffledRowRDD, UnsafeRowSerializer}
import org.apache.spark.sql.execution.adaptive.ShufflePartitionsUtil
import org.apache.spark.sql.execution.metric.SQLShuffleReadMetricsReporter
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge between custom Catalyst expressions and the public Column API.
  * Spark 4 wraps columns in ColumnNodes; the classic converter is
  * `private[sql]`, so this one-liner lives under org.apache.spark.sql.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus — `SparkContext.listenerBus` is
    * `private[spark]`, and per-query metrics attribution (QueryLedger)
    * needs every TaskEnd event delivered before reading the counters.
    */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The query an SQL execution ran, as carried by its end event (`qe` is
    * `private[sql]`); None for events that do not carry one.
    */
  def executedQuery(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

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

  /** The partition count AQE starts a shuffle at: `initialPartitionNum`,
    * else `spark.sql.shuffle.partitions`.
    */
  def initialPartitionNum(spark: SparkSession): Int = classic(spark).sessionState.conf.numShufflePartitions

  /** Shuffles `rows`, unsafe rows of `numFields` fields each paired with
    * its bucket in `[0, buckets)`, and runs the map stage at once. Then
    * coalesces contiguous buckets from the map output sizes, reading the
    * same session confs AQE's coalescing reads, and returns the reading
    * side: one partition per bucket range, in bucket order.
    */
  def routeToBuckets(spark: SparkSession, rows: RDD[_ <: Product2[Int, InternalRow]], buckets: Int,
      numFields: Int): RDD[InternalRow] = {
    val sc = spark.sparkContext
    val dep = new ShuffleDependency[Int, InternalRow, InternalRow](
      rows, new PartitionIdPassthrough(buckets), new UnsafeRowSerializer(numFields))
    // a map stage needs a map task: with no input partition nothing is written
    val stats = if (rows.partitions.isEmpty) None else Option(sc.submitMapStage(dep).get())
    val conf = classic(spark).sessionState.conf
    val coalesced =
      if (!conf.coalesceShufflePartitionsEnabled) Nil
      else ShufflePartitionsUtil.coalescePartitions(
        Seq(stats), Seq(None),
        advisoryTargetSize = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
        minNumPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
          if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) sc.defaultParallelism else 1),
        minPartitionSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)).headOption.getOrElse(Nil)
    // no spec: nothing to coalesce, so every bucket is read on its own
    val specs = if (coalesced.nonEmpty) coalesced else (0 until buckets).map(b => CoalescedPartitionSpec(b, b + 1))
    new ShuffledRowRDD(dep, SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc), specs.toArray)
  }

  /** Number of SQL executions the driver's status store holds
    * (`sharedState` is only on the classic session).
    */
  def statusStoreExecutions(spark: SparkSession): Long =
    classic(spark).sharedState.statusStore.executionsCount()

  private def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}
