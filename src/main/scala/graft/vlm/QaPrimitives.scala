package graft.vlm

import graft.RangeBuckets
import graft.RangeBuckets.Bounds
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** QA assembly primitives (qa_base.py:68-137) shared by the task generators
  * and the oracle-checked query catalog: seeded distractor generation and
  * the seeded option shuffle → answer letter. Pure column programs built on
  * md5, so both Spark and the DuckDB oracle can replay them bit-identically.
  * Also what every task is built from: the per-frame array steps
  * ([[firstPerCategory]], [[categoryCounts]]), the metadata map, and the
  * contiguous QA-id assignment every task ends with: the id step of the
  * range-bucket module, which runs jobs and stores rows (see
  * [[graft.RangeBuckets.withContiguousIds]]).
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
      * [[imageIdBounds]]); eager, like [[graft.RangeBuckets.withContiguousIds]].
      */
    def apply(frames: DataFrame, datasetName: String, bounds: Bounds): DataFrame =
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
      bounds: Bounds): DataFrame = {
    val order = col("image_id") +: FrameKeys ++: inFrame
    val keys = order.indices.map(i => s"_k$i")
    val slim = df.select(order.zip(keys).map { case (c, k) => c.as(k) } ++ QaColumns.map(col): _*)
    RangeBuckets.withContiguousIds(slim, "id", s"${datasetName}_${task}_%06d", keys.map(col), bounds)
      .select(("id" +: QaColumns).map(col): _*)
  }

  /** The `image_id` bounds of one QA run: sampled from its frames
    * ([[graft.RangeBuckets.sampleBounds]]), in as many ranges as the
    * session's AQE start partition count, and shared by its id steps.
    */
  def imageIdBounds(frames: DataFrame): Bounds =
    RangeBuckets.sampleBounds(frames, Seq(col("image_id")), shims.initialPartitionNum(frames.sparkSession), "qa id bounds")

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
