package graft

import scala.collection.mutable

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Range buckets: the one distributed step under a global order. Bounds on
  * a key are sampled once ([[sampleBounds]]), every row is routed to the
  * key range it falls in and the routed map stage runs once ([[route]]),
  * and each bucket is sorted on its own. Bucket order then is key order,
  * so a fold that carries one number per bucket from the driver ends in
  * the global result, without moving every row to one task:
  *
  *  - [[withContiguousIds]] numbers the rows (the QA ids): one count job,
  *    and the sorted rows are stored;
  *  - [[groupSums]] and [[withRunningSum]] give a running sum within a
  *    group (the curation budget leg): one sum job, and nothing is stored.
  *
  * These entry points run their jobs when called, outside any Dataset
  * action, so each runs under the session's propagated SQL confs. Catalog
  * queries stay lazy and do not use them: their plans are what the oracle
  * checks.
  */
object RangeBuckets {

  /** Rows sampled per bucket, as Spark's `RangePartitioner` samples. */
  private val SamplePerBucket = 20
  private val MaxSample = 1000000

  /** Upper bounds of `buckets` key ranges, in key order: a key falls in the
    * first range whose bound is at least the key, else in the last. Keys
    * order ascending, nulls first, as `sortWithinPartitions` orders them.
    */
  final class Bounds private[RangeBuckets] (upper: Array[InternalRow], val keyTypes: Seq[DataType])
      extends Serializable {
    def buckets: Int = upper.length + 1

    /** The bounds as Scala values, to compare two samples. */
    def values: Seq[Row] = {
      val toScala = CatalystTypeConverters.createToScalaConverter(keySchema(keyTypes))
      upper.toSeq.map(r => toScala(r).asInstanceOf[Row])
    }

    /** A key row's bucket, by binary search; build one per task. */
    private[RangeBuckets] def router: InternalRow => Int = {
      val ord = keyOrdering(keyTypes)
      key => {
        var lo = 0
        var hi = upper.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ord.lt(upper(mid), key)) lo = mid + 1 else hi = mid
        }
        lo
      }
    }
  }

  private def keySchema(types: Seq[DataType]): StructType =
    StructType(types.zipWithIndex.map { case (t, i) => StructField(s"_k$i", t) })

  private def keyOrdering(types: Seq[DataType]): Ordering[InternalRow] =
    new InterpretedOrdering(types.zipWithIndex.map { case (t, i) =>
      SortOrder(BoundReference(i, t, nullable = true), Ascending)
    })

  /** [[Bounds]] of `keys` over `df`'s rows in at most `buckets` ranges of
    * about equal row counts (fewer when there are fewer distinct keys),
    * from one job named `name` (none for one bucket).
    *
    * The bounds are a function of the rows alone: the sample is the rows
    * with the smallest hash of their key (ties broken by the key), taken
    * over all partitions, so neither the partition count nor the order in
    * which rows arrive changes it. Spark's `RangePartitioner` samples by
    * position instead: over an input whose order follows a shuffle, two
    * runs of the same code got different buckets.
    */
  def sampleBounds(df: DataFrame, keys: Seq[Column], buckets: Int, name: String): Bounds = {
    val keyed = df.select(keys: _*)
    val types = keyed.schema.map(_.dataType)
    if (buckets <= 1) return new Bounds(Array.empty, types)
    val k = math.min(SamplePerBucket.toLong * buckets, MaxSample).toInt
    val spark = df.sparkSession
    val perPartition = shims.withSQLConfPropagated(spark) {
      val rdd = keyed.queryExecution.toRdd.mapPartitions { it =>
        val unsafe = UnsafeProjection.create(types.toArray)
        Iterator.single(bottomK(it.map(r => unsafe(r)), k, types))
      }.setName(name)
      spark.sparkContext.runJob(rdd, (it: Iterator[Array[(Long, UnsafeRow)]]) => it.next())
    }
    val byKey = keyOrdering(types)
    val sample = perPartition.flatten.sorted(byHashThenKey(byKey)).take(k).map(_._2).sorted(byKey)
    val upper = mutable.ArrayBuffer.empty[InternalRow]
    for (j <- 1 until buckets) {
      val i = (j.toLong * sample.length / buckets - 1).toInt
      if (i >= 0 && (upper.isEmpty || byKey.gt(sample(i), upper.last))) upper += sample(i)
    }
    new Bounds(upper.toArray, types)
  }

  private def byHashThenKey(byKey: Ordering[InternalRow]): Ordering[(Long, UnsafeRow)] =
    new Ordering[(Long, UnsafeRow)] {
      def compare(a: (Long, UnsafeRow), b: (Long, UnsafeRow)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else byKey.compare(a._2, b._2)
      }
    }

  /** The `k` smallest of `rows` by (hash of the row's bytes, row). */
  private def bottomK(rows: Iterator[UnsafeRow], k: Int, types: Seq[DataType]): Array[(Long, UnsafeRow)] = {
    val ord = byHashThenKey(keyOrdering(types))
    val heap = mutable.PriorityQueue.empty[(Long, UnsafeRow)](ord) // largest on top
    rows.foreach { r =>
      val h = XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
      if (heap.size < k) heap.enqueue((h, r.copy()))
      else if (ord.lt((h, r), heap.head)) { heap.dequeue(); heap.enqueue((h, r.copy())) }
    }
    heap.toArray
  }

  /** `df`'s rows routed to the buckets of `bounds`: each row goes to the
    * bucket its first `bounds.keyTypes.size` keys of `order` fall in, the
    * shuffle's map stage (named `name`) runs now, once, over everything
    * below it, and contiguous small buckets are then coalesced from its
    * output sizes, as AQE would coalesce them. Returns a frame with `df`'s
    * columns over the reading side, one partition per bucket range in
    * bucket order, not yet sorted: sort it within partitions by `order`.
    */
  def route(df: DataFrame, order: Seq[Column], bounds: Bounds, name: String): DataFrame = {
    val spark = df.sparkSession
    val nKeys = bounds.keyTypes.size
    val routeCols = (0 until nKeys).map(i => s"_route$i")
    val keyed = df.select(col("*") +: order.take(nKeys).zip(routeCols).map { case (c, n) => c.as(n) }: _*)
    val n = keyed.schema.length
    val types = keyed.schema.takeRight(nKeys).map(_.dataType)
    require(types == bounds.keyTypes, s"route keys are ${types.mkString(", ")}, the bounds are ${bounds.keyTypes.mkString(", ")}")
    val shuffled = shims.withSQLConfPropagated(spark) {
      val routed = keyed.queryExecution.toRdd.mapPartitions { it =>
        val key = UnsafeProjection.create(types.zipWithIndex.map { case (t, i) =>
          BoundReference(n - nKeys + i, t, nullable = true)
        })
        val bucketOf = bounds.router
        it.map(r => (bucketOf(key(r)), r))
      }.setName(name)
      shims.routeToBuckets(spark, routed, bounds.buckets, n)
    }
    shims.internalCreateDataFrame(spark, shuffled, keyed.schema).drop(routeCols: _*)
  }

  /** Contiguous zero-based ids in a stable total order, distributed: route
    * the rows over `bounds` ([[route]], the map stage named
    * `"qa id route: $fmt"`), sort each bucket by the whole order key, then
    * number the rows from per-partition offsets that one count job finds.
    * A bare `row_number() over (ORDER BY ...)` would move every row to a
    * single partition — the one W6 shape that cannot ship at corpus scale.
    * Ids are stable across runs and equal the window formulation only
    * because each caller's order key is unique: ties would be numbered in
    * whatever order the shuffle delivered them.
    *
    * Eager, two jobs. The count job (`"qa id rows: $fmt"`) sorts, counts
    * and stores every partition (`MEMORY_AND_DISK`), so the last offset is
    * the row total ([[rowCount]]), and every later action — per-task sink,
    * combined union — reads the stored rows instead of re-running the
    * shuffle and the sort. [[release]] frees them; otherwise Spark's
    * ContextCleaner does once the result is unreachable. Without the
    * propagated confs, the jobs' tasks would see the defaults (e.g.
    * `mapKeyDedupPolicy=EXCEPTION` instead of the session's `LAST_WIN`).
    */
  def withContiguousIds(df: DataFrame, idCol: String, fmt: String, order: Seq[Column],
      bounds: Bounds): DataFrame = {
    val spark = df.sparkSession
    val sorted = route(df, order, bounds, s"qa id route: $fmt").sortWithinPartitions(order: _*)
    val stored = shims.withSQLConfPropagated(spark) {
      // the sort hands out one reused row object: copy before storing
      val rows = sorted.queryExecution.toRdd.map(_.copy()).setName(s"qa id rows: $fmt")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val sizes = spark.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => it.size.toLong)
        new NumberedRows(rows, sizes.scanLeft(0L)(_ + _))
      } catch {
        case e: Throwable => rows.unpersist(blocking = true); throw e
      }
    }
    shims.internalCreateDataFrame(spark, stored, df.schema.add("_rn", LongType))
      .withColumn(idCol, format_string(fmt, col("_rn"))).drop("_rn")
  }

  /** Unpersists the rows that every [[withContiguousIds]] under `df` stored. */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd match {
      case n: NumberedRows => n.stored.unpersist(blocking = true)
      case _ =>
    }
    case _ =>
  }

  /** The row count of a DataFrame as [[withContiguousIds]] returned it
    * (projections on top allowed), read from the plan: the total the count
    * job found, so no job runs. Fails on any other plan.
    */
  def rowCount(df: DataFrame): Long = {
    def total(p: LogicalPlan): Option[Long] = p match {
      case Project(_, child) => total(child)
      case r: LogicalRDD => r.rdd match {
        case n: NumberedRows => Some(n.total)
        case _ => None
      }
      case _ => None
    }
    val plan = df.queryExecution.logical
    total(plan).getOrElse(throw new IllegalArgumentException(
      s"no stored row count: not a withContiguousIds result under projections:\n${plan.treeString}"))
  }

  /** Stored sorted rows, each with its global row number (from the
    * partition's start offset) appended as one more LONG column. `offsets`
    * holds one start per partition, then the row total.
    */
  private final class NumberedRows(val stored: RDD[InternalRow], offsets: Array[Long])
      extends RDD[InternalRow](stored) {
    def total: Long = offsets.last
    override protected def getPartitions: Array[Partition] = stored.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      // reused per row: the scan over this RDD projects each row at once
      val rn = new GenericInternalRow(1)
      val joined = new JoinedRow
      var next = offsets(split.index)
      firstParent[InternalRow].iterator(split, context).map { r =>
        rn.setLong(0, next); next += 1; joined(r, rn)
      }
    }
  }

  /** Per bucket of a [[route]]d frame, the sum of a LONG column within each
    * group of rows that share the group columns' values (a null counts 0).
    */
  final class GroupSums private[RangeBuckets] (
      perBucket: Array[Array[(UnsafeRow, Long)]], groupTypes: Seq[DataType]) {

    /** Each group's sum over all buckets. */
    def totals: Map[Row, Long] = {
      val toScala = CatalystTypeConverters.createToScalaConverter(keySchema(groupTypes))
      perBucket.flatten.groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (g, s) => toScala(g).asInstanceOf[Row] -> s }
    }

    /** Per bucket, each group's sum over the buckets before it. */
    private[RangeBuckets] def offsets: Array[Map[UnsafeRow, Long]] = {
      val run = mutable.HashMap.empty[UnsafeRow, Long]
      perBucket.map { sums =>
        val before = sums.map { case (g, _) => g -> run.getOrElse(g, 0L) }.toMap
        sums.foreach { case (g, s) => run(g) = run.getOrElse(g, 0L) + s }
        before
      }
    }
  }

  /** [[GroupSums]] of `value` by `groups` over `routed`, a frame as
    * [[route]] returned it: one job, named `name`, that reads each bucket
    * once and sends one sum per group and bucket to the driver.
    */
  def groupSums(routed: DataFrame, groups: Seq[String], value: String, name: String): GroupSums = {
    val (key, groupTypes, v) = groupAndValue(routed.schema, groups, value)
    val rdd = routed.queryExecution.toRdd.mapPartitions { it =>
      val groupOf = key()
      val acc = mutable.HashMap.empty[UnsafeRow, Long]
      it.foreach { r =>
        val g = groupOf(r)
        val x = if (r.isNullAt(v)) 0L else r.getLong(v)
        acc.get(g) match {
          case Some(s) => acc.update(g, s + x)
          case None => acc.update(g.copy(), x)
        }
      }
      Iterator.single(acc.toArray)
    }.setName(name)
    val spark = routed.sparkSession
    new GroupSums(shims.withSQLConfPropagated(spark) {
      spark.sparkContext.runJob(rdd, (it: Iterator[Array[(UnsafeRow, Long)]]) => it.next())
    }, groupTypes)
  }

  /** `sorted`, the frame of [[route]] sorted within its buckets by an order
    * key that starts with `groups`, with `cumName` added: the running sum
    * of `value` within the row's group in the global order (inclusive, a
    * null counts 0) — the group's sum over the earlier buckets, from
    * `sums`, plus the running sum within the bucket. Lazy, and stores
    * nothing: every action re-reads the shuffle output and re-sorts.
    */
  def withRunningSum(sorted: DataFrame, groups: Seq[String], value: String, sums: GroupSums,
      cumName: String): DataFrame = {
    val (key, _, v) = groupAndValue(sorted.schema, groups, value)
    val offsets = sums.offsets
    val rows = sorted.queryExecution.toRdd.mapPartitionsWithIndex[InternalRow] { (p, it) =>
      val groupOf = key()
      val before = offsets(p)
      // reused per row: the scan over this RDD projects each row at once
      val cum = new GenericInternalRow(1)
      val joined = new JoinedRow
      var group: UnsafeRow = null
      var run = 0L
      it.map { r =>
        val g = groupOf(r)
        if (group == null || g != group) { group = g.copy(); run = before.getOrElse(group, 0L) }
        if (!r.isNullAt(v)) run += r.getLong(v)
        cum.setLong(0, run)
        joined(r, cum)
      }
    }
    shims.internalCreateDataFrame(sorted.sparkSession, rows, sorted.schema.add(cumName, LongType))
  }

  /** A factory for the group-key projection (one per task), the group
    * columns' types and the LONG value column's ordinal.
    */
  private def groupAndValue(schema: StructType, groups: Seq[String],
      value: String): (() => UnsafeProjection, Seq[DataType], Int) = {
    val v = schema.fieldIndex(value)
    require(schema(v).dataType == LongType, s"$value is ${schema(v).dataType}, not a LONG")
    val refs = groups.map { g =>
      val i = schema.fieldIndex(g)
      BoundReference(i, schema(i).dataType, nullable = true)
    }
    (() => UnsafeProjection.create(refs), refs.map(_.dataType), v)
  }
}
