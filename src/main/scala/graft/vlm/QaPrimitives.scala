package graft.vlm

import scala.reflect.ClassTag

import org.apache.spark.{Partition, RangePartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.storage.StorageLevel

/** QA assembly primitives (qa_base.py:68-137) shared by the task generators
  * and the oracle-checked query catalog: seeded distractor generation and
  * the seeded option shuffle → answer letter. Pure column programs built on
  * md5, so both Spark and the DuckDB oracle can replay them bit-identically.
  * Also what every task is built from: the per-frame array steps
  * ([[firstPerCategory]], [[categoryCounts]]), the metadata map, and the
  * contiguous QA-id assignment every task ends with, which runs jobs and
  * stores rows (see [[withContiguousIds]]).
  */
object QaPrimitives {
  import GeoFunctions.seededUniform

  val letters: Column = array((0 until 8).map(i => lit(('A' + i).toChar.toString)): _*)

  /** Seeded distractor for a numeric answer with a percent range
    * (qa_base.py:68-109): mult ∈ [lo, hi), clamp to ≥ 0.1, nudge ×1.2 on
    * exact collision — the reference's exact post-processing chain.
    */
  def distractor(answer: Column, seedKey: Column, k: Int, range: (Double, Double)): Column = {
    val u = seededUniform(concat(seedKey, lit(s":d$k")))
    val raw = answer * (lit(range._1) + u * (range._2 - range._1))
    val clamped = greatest(raw, lit(0.1))
    when(clamped === answer, answer * 1.2).otherwise(clamped)
  }

  /** The frame keys a QA row's metadata starts with: (metadata key, frame
    * column). The legacy 2D tasks carry the first two ([[FrameMeta2d]]).
    */
  val FrameMeta: Seq[(String, String)] = Seq(
    "source_file" -> "_source_file", "image_id" -> "image_id", "scene_id" -> "scene_id", "frame_id" -> "frame_id")
  val FrameMeta2d: Seq[(String, String)] = FrameMeta.take(2)

  /** A QA row's metadata map: the frame keys `frame` (each coalesced to
    * ""), then `extra`; every value cast to string.
    */
  def metaMap(frame: Seq[(String, String)], extra: (String, Column)*): Column =
    map((frame.map { case (k, c) => k -> coalesce(col(c), lit("")) } ++ extra)
      .flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*)

  /** The first box of each category in one frame's box array, in box order:
    * box i is kept when no earlier box has its category (null-safe, so the
    * null category is one category). Quadratic in the frame's box count,
    * and it never leaves the frame's row.
    */
  def firstPerCategory(boxes: Column): Column =
    filter(boxes, (b, i) =>
      !exists(slice(boxes, lit(1), i), p => p.getField("category") <=> b.getField("category")))

  /** One `(readable, cnt)` struct per distinct value of the string array
    * `cats`, in first-occurrence order: each value and how often it occurs.
    */
  def categoryCounts(cats: Column): Column =
    transform(array_distinct(cats), c => struct(c.as("readable"), size(filter(cats, r => r === c)).as("cnt")))

  /** QaPair columns after the id, in output order ([[FrameSchema.QaPair]]). */
  private val QaColumns = Seq("question", "answer", "answer_type", "options", "metadata")

  /** The keys after `image_id` in every task's order key: they order the
    * rows of two frames that share an `image_id`.
    */
  private val FrameKeys = Seq("_source_file", "scene_id", "frame_id").map(c => coalesce(col(c), lit("")))

  /** One QA task: `rows` builds its QA rows from the frames, before ids (the
    * QaPair columns after the id, `image_id` and the frame columns), and
    * `inFrame` orders the rows of one frame.
    */
  final class QaTask(val name: String, inFrame: Seq[Column], val rows: DataFrame => DataFrame) {

    /** The task's QaPair rows, numbered over `bounds` (sampled once per run,
      * [[imageIdBounds]]); eager, like [[withContiguousIds]].
      */
    def apply(frames: DataFrame, datasetName: String, bounds: IdBounds): DataFrame =
      assignQaIds(rows(frames), datasetName, name, inFrame, bounds)

    /** As above, with bounds sampled from `frames` for this task alone. */
    def apply(frames: DataFrame, datasetName: String): DataFrame =
      apply(frames, datasetName, imageIdBounds(frames))
  }

  /** A task's QaPair rows with contiguous ids `{dataset}_{task}_{n:06d}` in
    * the stable total order (qa_base.py:54-65 / SURVEY W6): `image_id`, the
    * frame keys `_source_file`, `scene_id` and `frame_id` (each coalesced to
    * ""), then the row's in-frame key `inFrame`. When `image_id`s are unique
    * the frame keys do not change the order; when two frames share one, the
    * frame keys keep each frame's rows together and in the same place in
    * every run. Not covered: two frames that share the image, file, scene
    * and frame ids, whose tied rows are numbered in arrival order. Only the
    * order keys and the QaPair columns enter the sort and the stored rows.
    */
  def assignQaIds(df: DataFrame, datasetName: String, task: String, inFrame: Seq[Column],
      bounds: IdBounds): DataFrame = {
    val order = col("image_id") +: FrameKeys ++: inFrame
    val keys = order.indices.map(i => s"_k$i")
    val slim = df.select(order.zip(keys).map { case (c, k) => c.as(k) } ++ QaColumns.map(col): _*)
    withContiguousIds(slim, "id", s"${datasetName}_${task}_%06d", keys.map(col), bounds)
      .select(("id" +: QaColumns).map(col): _*)
  }

  /** Range bounds on the first key of the id steps' order keys: `buckets`
    * key ranges of about equal row counts (fewer when there are fewer
    * distinct keys). Sampled once and shared by the id steps of a run.
    */
  final class IdBounds private[QaPrimitives] (
      private[QaPrimitives] val partitioner: RangePartitioner[InternalRow, Null],
      val keyType: DataType) extends Serializable {
    def buckets: Int = partitioner.numPartitions
  }

  /** [[IdBounds]] of `key` over `df`'s rows in `buckets` ranges, from one
    * small sample job (none for one bucket) under the session's SQL confs.
    */
  def sampleBounds(df: DataFrame, key: Column, buckets: Int): IdBounds = {
    val keys = df.select(key)
    val keyType = keys.schema.head.dataType
    val ordering = new InterpretedOrdering(Seq(SortOrder(BoundReference(0, keyType, nullable = true), Ascending)))
    shims.withSQLConfPropagated(df.sparkSession) {
      // the sample keeps rows: copy the scan's reused one
      val rows = keys.queryExecution.toRdd.map(r => (r.copy(), null)).setName("qa id bounds")
      new IdBounds(new RangePartitioner(buckets, rows)(ordering, ClassTag(classOf[InternalRow])), keyType)
    }
  }

  /** The `image_id` bounds of one QA run: sampled from its frames, in as
    * many ranges as the session's AQE start partition count.
    */
  def imageIdBounds(frames: DataFrame): IdBounds =
    sampleBounds(frames, col("image_id"), shims.initialPartitionNum(frames.sparkSession))

  /** Contiguous zero-based ids in a stable total order, distributed: route
    * each row to the bucket of `bounds` its first order key falls in, sort
    * within partitions by the whole order key, then number the rows from
    * per-partition offsets that one count job finds. A bare
    * `row_number() over (ORDER BY ...)` would move every row to a single
    * partition — the one W6 shape that cannot ship at corpus scale. Ids are
    * stable across runs and equal the window formulation only because each
    * caller's order key is unique: ties would be numbered in whatever order
    * the shuffle delivered them.
    *
    * Eager, two jobs: the routed shuffle's map stage runs here, once, over
    * everything below it; contiguous small buckets are then coalesced from
    * its output sizes, as AQE would coalesce them. The count job sorts,
    * counts and stores every partition (`MEMORY_AND_DISK`), so the last
    * offset is the row total ([[rowCount]]), and every later action —
    * per-task sink, combined union — reads the stored rows instead of
    * re-running the shuffle and the sort. [[release]] frees them; otherwise
    * Spark's ContextCleaner does once the result is unreachable. Both jobs
    * are RDD-level, outside any Dataset action, so they run under the
    * session's propagated SQL confs: without that, their tasks see the
    * defaults (e.g. `mapKeyDedupPolicy=EXCEPTION` instead of the session's
    * `LAST_WIN`). The first order key must have the bounds' key type.
    */
  def withContiguousIds(df: DataFrame, idCol: String, fmt: String, order: Seq[Column],
      bounds: IdBounds): DataFrame = {
    val spark = df.sparkSession
    val keyed = df.select(col("*"), order.head.as(RouteKey))
    val n = keyed.schema.length
    val keyType = keyed.schema.last.dataType
    require(keyType == bounds.keyType, s"first order key is $keyType, the bounds are ${bounds.keyType}")
    val stored = shims.withSQLConfPropagated(spark) {
      val partitioner = bounds.partitioner
      val routed = keyed.queryExecution.toRdd.mapPartitions { it =>
        val key = UnsafeProjection.create(Seq(BoundReference(n - 1, keyType, nullable = true)))
        it.map(r => (partitioner.getPartition(key(r)), r))
      }.setName(s"qa id route: $fmt")
      val shuffled = shims.routeToBuckets(spark, routed, bounds.buckets, n)
      val sorted = shims.internalCreateDataFrame(spark, shuffled, keyed.schema)
        .sortWithinPartitions(order: _*).drop(RouteKey)
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

  /** The first order key, carried through the routed shuffle. */
  private val RouteKey = "_route"

  /** Unpersists the rows that every [[withContiguousIds]] under `df` stored. */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd match {
      case n: NumberedRows => n.stored.unpersist(blocking = true)
      case _ =>
    }
    case _ =>
  }

  /** The row count of a DataFrame as [[assignQaIds]] or [[withContiguousIds]]
    * returned it (projections on top allowed), read from the plan: the
    * total the count job found, so no job runs. Fails on any other plan.
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

  /** Seeded shuffle: sort options by per-position md5 keys
    * (qa_base.py:111-137). Adds `_shuffled` (permuted options) and
    * `_letter` — the *first* position holding the correct value, as in the
    * reference's `list.index`.
    */
  def shuffleToLetter(df: DataFrame, optsCol: Column, correctCol: Column, seedKey: Column): DataFrame =
    df.withColumn(
        "_shuffled",
        transform(
          array_sort(
            zip_with(
              optsCol,
              sequence(lit(0), size(optsCol) - 1),
              (o, i) => struct(md5(concat(seedKey, lit(":s"), i.cast("string"))).as("k"), o.as("v"))
            )
          ),
          x => x.getField("v")
        )
      )
      .withColumn("_letter", element_at(letters, array_position(col("_shuffled"), correctCol).cast("int")))
}
