package graft.vlm

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** F15 contract: every per-dataset processor output, passed through
  * FrameSchema.conform, runs the QA engine unchanged.
  */
class ConformSpec extends SparkSpec {

  private def matterportFrames() = {
    import spark.implicits._
    val images = Seq(
      ("sceneA", "matterport3d/sceneA/region0", "f_i1_0",
        "matterport3d/sceneA/matterport_color_images/f_i1_0.jpg", Seq(1L, 2L, 3L))
    ).toDF("scene_id", "sample_idx", "frame_id", "img_path", "visible_instance_ids")
    val instances = Seq(
      ("sceneA", "matterport3d/sceneA/region0", 1L, 1.0, 2.0, 3.0, 0.5, 0.6, 0.7, 0.0, 0.0, 0.0, 5L),
      ("sceneA", "matterport3d/sceneA/region0", 2L, 2.0, 2.0, 3.0, 0.5, 0.6, 0.7, 0.0, 0.0, 0.0, 5L),
      ("sceneA", "matterport3d/sceneA/region0", 3L, 3.0, 2.0, 3.0, 0.5, 0.6, 0.7, 0.0, 0.0, 0.0, 5L)
    ).toDF("scene_id", "sample_idx", "bbox_id", "cx", "cy", "cz", "dx", "dy", "dz", "rx", "ry", "rz", "label_id")
    val categories = Seq((5L, "chair")).toDF("label_id", "name")
    MatterportSources.matterportFrames(images, instances, categories)
  }

  test("conform aligns processor output to the canonical frame schema") {
    val conformed = FrameSchema.conform(matterportFrames())
    // canonical column order, missing columns as typed nulls
    assert(conformed.columns.take(FrameSchema.frameType.length).toSeq ==
      FrameSchema.frameType.fieldNames.toSeq)
    val r = conformed.collect().head
    assert(r.getAs[String]("dataset") == "matterport")
    assert(r.isNullAt(r.fieldIndex("video_id"))) // never emitted by this processor
    assert(r.isNullAt(r.fieldIndex("depth_stats")))
    // camera struct realigned by name; extrinsics absent → null field
    val cam = r.getStruct(r.fieldIndex("camera"))
    assert(cam.getAs[Double]("fx") == 1000.0)
    assert(FrameSchema.frameType("camera").dataType.catalogString ==
      conformed.schema("camera").dataType.catalogString)
    // box elements aligned to the canonical bbox3d struct: extra processor
    // fields dropped, canonical-only fields null
    val b = r.getSeq[Row](r.fieldIndex("bounding_boxes_3d")).head
    assert(b.getAs[String]("category") == "chair")
    assert(b.isNullAt(b.fieldIndex("confidence")))
    assert(b.getAs[Int]("label_id") == 5)
  }

  test("conform keeps null structs null (no all-null-field struct synthesis)") {
    import spark.implicits._
    val df = Seq(("coco", "v", "img1")).toDF("dataset", "split", "image_id")
    val r = FrameSchema.conform(df).collect().head
    // camera / depth_stats were absent: must be NULL, not Row(null, null, ...)
    assert(r.isNullAt(r.fieldIndex("camera")))
    assert(r.isNullAt(r.fieldIndex("depth_stats")))
    // a present-but-null struct value also stays null through realignment
    val withNull = df.withColumn("camera",
      org.apache.spark.sql.functions.lit(null).cast(
        "struct<fx:double,fy:double,cx:double,cy:double>"))
    val r2 = FrameSchema.conform(withNull).collect().head
    assert(r2.isNullAt(r2.fieldIndex("camera")))
  }

  test("processor -> conform -> K1 snapshot -> S1 re-read round-trips") {
    val out = tempDir("graft-roundtrip").resolve("corpus")
    val conformed = FrameSchema.conform(matterportFrames())
    Ingest.writeFrames(conformed, out.toString)
    val back = Ingest.readFrames(spark, out.toString)
    assert(back.count() == conformed.count())
    val f = back.filter(col("image_id") === "sceneA_f_i1_0").collect().head
    assert(f.getAs[String]("dataset") == "matterport")
    val boxes = f.getSeq[Row](f.fieldIndex("bounding_boxes_3d"))
    assert(boxes.length == 3 && boxes.forall(_.getAs[String]("category") == "chair"))
    // the re-read corpus feeds the QA engine identically
    assert(QaTasks.objectCount(back, "matterport").count() ==
      QaTasks.objectCount(conformed, "matterport").count())
  }

  test("conformed processor output runs the QA engine (object_count end-to-end)") {
    val conformed = FrameSchema.conform(matterportFrames())
    val qa = QaTasks.objectCount(conformed, "matterport").collect()
    assert(qa.nonEmpty)
    val q = qa.head
    assert(q.getAs[String]("id").startsWith("matterport_object_count_"))
    assert(q.getAs[String]("question").nonEmpty)
    assert(q.getAs[String]("answer") == "3") // three chairs visible
  }
}
