package graft.vlm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The three legacy 2D QA task generators (tasks/tasks_2d/), completing the
  * reference's nine-task surface (SURVEY.md §7.1 step 5). Same declarative
  * shape as [[QaTasks]]: in-row per-frame array steps → explode → filters →
  * column math → seeded distractors → contiguous ids.
  *
  * 2D boxes are the ingest-normalized single encoding
  * ([[FrameSchema.Bbox2D]]: x, y, w, h, area?, category) — the reference's
  * three raw encodings are folded at read time (SURVEY §7.4 item 5).
  */
object QaTasks2D {
  import QaPrimitives.{FrameMeta2d, QaTask, categoryCounts, distractor, firstPerCategory, metaMap, shuffleToLetter}

  val MinBboxArea = 100.0 // F5: skip boxes under 100 px² (bbox_2d_size_qa.py:71-73)
  val CountBounds = (1, 20) // F6: frames with 1..20 objects (object_count_2d_qa.py:61-63)
  val SizeNumOptions = 4
  val SizeDistractorRange = (0.4, 1.8)

  /** object_count_2d — tasks_2d/object_count_2d_qa.py: per-frame category
    * counts over 2D boxes, `unknown` excluded (F4), numerical answer.
    */
  val objectCount2d = new QaTask("object_count_2d", Seq(col("readable")), objectCount2dRows)

  /** bbox_2d_size — tasks_2d/bbox_2d_size_qa.py: first box per category
    * (W4), area >= 100 px² (F5), multiple-choice width×height.
    */
  val bbox2dSize = new QaTask("bbox_2d_size", Seq(col("bbox.category")), bbox2dSizeRows)

  /** object_2d_size — tasks_2d/object_2d_size_qa.py: first box per category,
    * area >= 100 px² (F5), multiple-choice area in pixels.
    */
  val object2dSize = new QaTask("object_2d_size", Seq(col("bbox.category")), object2dSizeRows)

  def all: Map[String, QaTask] = Seq(objectCount2d, bbox2dSize, object2dSize).map(t => t.name -> t).toMap

  /** Frames passing the F1 availability gate and the F6 count bounds. */
  private def framesWith2d(frames: DataFrame): DataFrame =
    FrameSchema.withSourceTag(frames)
      .filter(size(col("bounding_boxes_2d")).between(CountBounds._1, CountBounds._2))

  /** The first 2D box of each category of every gated frame, one row per
    * box (`bbox`), with the frame columns.
    */
  private def firstBoxes2d(frames: DataFrame): DataFrame =
    framesWith2d(frames).select(
      col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"),
      explode(firstPerCategory(col("bounding_boxes_2d"))).as("bbox"))

  /** Area with the reference's fallback: stored `area` if present, else w·h
    * (geometry.py:318-335).
    */
  private def areaOf(b: Column): Column =
    coalesce(b.getField("area"), b.getField("w") * b.getField("h"))

  private def objectCount2dRows(frames: DataFrame): DataFrame = {
    val cats = filter(transform(col("bounding_boxes_2d"), b => GeoFunctions.parseClassCategoryCol(b.getField("category"))),
      r => r =!= "unknown")
    val counts = framesWith2d(frames)
      .select(col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"),
        inline(categoryCounts(cats)))
    counts
      .withColumn("question", format_string("How many %ss are in this image?", col("readable")))
      .withColumn("answer", col("cnt").cast("string"))
      .withColumn("answer_type", lit("numerical"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn("metadata", metaMap(FrameMeta2d,
        "question_type" -> lit("category_specific_2d"),
        "target_category" -> col("readable"),
        "count" -> col("cnt"),
        "unit" -> lit("count")
      ))
  }

  private def bbox2dSizeRows(frames: DataFrame): DataFrame = {
    val sized = firstBoxes2d(frames)
      .withColumn("area", areaOf(col("bbox")))
      .filter(col("area") >= MinBboxArea)
      .withColumn("readable", GeoFunctions.parseClassCategoryCol(col("bbox").getField("category")))
      .withColumn("seed", concat(col("image_id"), lit("|bbox_2d_size|"), col("bbox.category")))
      .withColumn("wpx", round(col("bbox.w"), 0).cast("int"))
      .withColumn("hpx", round(col("bbox.h"), 0).cast("int"))
      .withColumn("ans", format_string("%d x %d", col("wpx"), col("hpx")))
      .withColumn("opts", array(
        col("ans") +:
          (1 to SizeNumOptions - 1).map(k =>
            format_string("%d x %d",
              greatest(round(distractor(col("wpx"), col("seed"), 2 * k, SizeDistractorRange), 0).cast("int"), lit(1)),
              greatest(round(distractor(col("hpx"), col("seed"), 2 * k + 1, SizeDistractorRange), 0).cast("int"), lit(1)))): _*))
    shuffleToLetter(sized, col("opts"), col("ans"), col("seed"))
      .withColumn("question", format_string("What is the approximate size of the %s's bounding box in pixels (width x height)?", col("readable")))
      .withColumn("answer", col("_letter"))
      .withColumn("answer_type", lit("multiple_choice"))
      .withColumn("options", col("_shuffled"))
      .withColumn("metadata", metaMap(FrameMeta2d,
        "category" -> col("bbox.category"),
        "readable_category" -> col("readable"),
        "bbox_width_px" -> col("wpx"),
        "bbox_height_px" -> col("hpx"),
        "answer_value" -> col("ans"),
        "unit" -> lit("pixels")
      ))
  }

  private def object2dSizeRows(frames: DataFrame): DataFrame = {
    val sized = firstBoxes2d(frames)
      .withColumn("area", areaOf(col("bbox")))
      .filter(col("area") >= MinBboxArea)
      .withColumn("readable", GeoFunctions.parseClassCategoryCol(col("bbox").getField("category")))
      .withColumn("seed", concat(col("image_id"), lit("|object_2d_size|"), col("bbox.category")))
      .withColumn("ans", round(col("area"), 0))
      .withColumn("opts", array(
        round(col("area"), 0) +:
          (1 to SizeNumOptions - 1).map(k => greatest(round(distractor(col("area"), col("seed"), k, SizeDistractorRange), 0), lit(1.0))): _*
      ).cast("array<string>"))
    shuffleToLetter(sized, col("opts"), col("ans").cast("string"), col("seed"))
      .withColumn("question", format_string("What is the approximate area of the %s in square pixels?", col("readable")))
      .withColumn("answer", col("_letter"))
      .withColumn("answer_type", lit("multiple_choice"))
      .withColumn("options", col("_shuffled"))
      .withColumn("metadata", metaMap(FrameMeta2d,
        "category" -> col("bbox.category"),
        "readable_category" -> col("readable"),
        "area_px" -> col("ans"),
        "answer_value" -> col("ans"),
        "unit" -> lit("square_pixels")
      ))
  }
}
