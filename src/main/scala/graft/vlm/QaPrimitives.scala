package graft.vlm

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** QA assembly primitives (qa_base.py:68-137) shared by the task generators
  * and the oracle-checked query catalog: seeded distractor generation and
  * the seeded option shuffle → answer letter. Pure column programs built on
  * md5, so both Spark and the DuckDB oracle can replay them bit-identically.
  * Also the contiguous QA-id assignment every task ends with, which runs
  * jobs and stores rows (see [[withContiguousIds]]).
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

  /** QaPair columns after the id, in output order ([[FrameSchema.QaPair]]). */
  private val QaColumns = Seq("question", "answer", "answer_type", "options", "metadata")

  /** A task's QaPair rows with contiguous ids `{dataset}_{task}_{n:06d}` in
    * the stable total order `order` (qa_base.py:54-65 / SURVEY W6). Only the
    * order keys and the QaPair columns enter the sort and the stored rows.
    */
  def assignQaIds(df: DataFrame, datasetName: String, task: String, order: Seq[Column]): DataFrame = {
    val keys = order.indices.map(i => s"_k$i")
    val slim = df.select(order.zip(keys).map { case (c, k) => c.as(k) } ++ QaColumns.map(col): _*)
    withContiguousIds(slim, "id", s"${datasetName}_${task}_%06d", keys.map(col))
      .select(("id" +: QaColumns).map(col): _*)
  }

  /** Contiguous zero-based ids in a stable total order, distributed: range-
    * partition on the order key, sort within partitions, then number the
    * rows from per-partition offsets that one count job finds. A bare
    * `row_number() over (ORDER BY ...)` would move every row to a single
    * partition — the one W6 shape that cannot ship at corpus scale. Ids are
    * stable across runs and equal the window formulation only because each
    * caller's order key is unique: ties would be numbered in whatever order
    * the shuffle delivered them.
    *
    * Eager: the shuffle runs here and the sorted rows are persisted
    * (`MEMORY_AND_DISK`); the count job counts and stores every partition,
    * so the last offset is the row total ([[rowCount]]), and every later
    * action — per-task sink, combined union — reads the stored rows instead
    * of re-running the shuffle and the sort. [[release]] frees them; otherwise
    * Spark's ContextCleaner does once the result is unreachable. The jobs run
    * here are RDD-level, outside any Dataset action, so they run under the
    * session's propagated SQL confs: without that, their tasks see the
    * defaults (e.g. `mapKeyDedupPolicy=EXCEPTION` instead of the session's
    * `LAST_WIN`).
    */
  def withContiguousIds(df: DataFrame, idCol: String, fmt: String, order: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val stored = shims.withSQLConfPropagated(spark) {
      // the sort hands out one reused row object: copy before storing
      val rows = sorted.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val sizes = spark.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => it.size.toLong)
        new NumberedRows(rows, sizes.scanLeft(0L)(_ + _))
      } catch {
        case e: Throwable => rows.unpersist(blocking = true); throw e
      }
    }
    shims.internalCreateDataFrame(spark, stored, sorted.schema.add("_rn", LongType))
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
