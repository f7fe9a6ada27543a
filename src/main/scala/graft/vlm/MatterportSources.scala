package graft.vlm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Matterport3D frames with EmbodiedScan-corrected boxes — the J1–J3 join
  * path of matterport_processor.py:43-258, over the parquet tables the
  * landing converter (`tools/embodiedscan_to_parquet.py`, S10) produces:
  *
  *   - `images(scene_id, sample_idx, frame_id, img_path, visible_instance_ids)`
  *   - `instances(scene_id, sample_idx, bbox_id, cx..cz, dx..dz, rx..rz, label_id)`
  *   - `categories(label_id, name)`
  *
  * Join shapes: explode the per-image visible-id list and equi-join the
  * instance table (J2, :115-121); broadcast the tiny label codebook with a
  * `class_<id>` fallback for unmapped ids (J3, :205-208); frames keep the
  * reference's visible-id order and frames with no visible boxes survive
  * with an empty list (left join).
  */
object MatterportSources {

  private val bbox3dDdl =
    "array<struct<x:double,y:double,z:double,xl:double,yl:double,zl:double," +
      "pitch:double,yaw:double,roll:double,category:string,label_id:bigint>>"

  /** @param poses optional `(scene_id, frame_id, extrinsics)` camera poses
    *              (from the `matterport_camera_poses` txt files, readable
    *              with [[RawSources.readExtrinsics]]-style parsing).
    */
  def matterportFrames(
      images: DataFrame,
      instances: DataFrame,
      categories: DataFrame,
      poses: Option[DataFrame] = None): DataFrame = {
    // A frame can appear under multiple region sample_idx entries; the
    // reference's corrections dict is last-assignment-wins per
    // (scene, frame) (:120-124). Deterministic equivalent: keep the row
    // with the max sample_idx per frame.
    val dedupImages = images
      .groupBy(col("scene_id"), col("frame_id"))
      .agg(
        max_by(struct(col("sample_idx"), col("img_path"), col("visible_instance_ids")),
          col("sample_idx")).as("r"))
      .select(col("scene_id"), col("frame_id"),
        col("r.sample_idx"), col("r.img_path"), col("r.visible_instance_ids"))
    // J2: visible ids → instance rows, order-preserving via posexplode
    val exploded = dedupImages.select(
      col("scene_id"), col("sample_idx"), col("frame_id"),
      posexplode(col("visible_instance_ids")).as(Seq("box_pos", "bbox_id")))
    val labeled = exploded
      .join(instances, Seq("scene_id", "sample_idx", "bbox_id")) // inner: ids without instance rows drop (:117-121)
      .join(broadcast(categories), Seq("label_id"), "left")      // J3
      .withColumn("category",
        coalesce(col("name"), concat(lit("class_"), col("label_id"))))
    // convert_bbox_to_9dof euler path (utils.py:78-88): the reference feeds
    // the radian eulers straight into its degree-based normalize_angle —
    // replayed verbatim for output parity.
    val boxes = labeled
      .select(
        col("scene_id"), col("frame_id"),
        struct(
          col("box_pos"),
          struct(
            col("cx").as("x"), col("cy").as("y"), col("cz").as("z"),
            col("dx").as("xl"), col("dy").as("yl"), col("dz").as("zl"),
            GeoFunctions.normalizeAngleCol(col("rx")).as("pitch"),
            GeoFunctions.normalizeAngleCol(col("ry")).as("yaw"),
            GeoFunctions.normalizeAngleCol(col("rz")).as("roll"),
            col("category"), col("label_id").cast("long").as("label_id")
          ).as("box")
        ).as("ordered"))
      .groupBy(col("scene_id"), col("frame_id"))
      .agg(sort_array(collect_list(col("ordered"))).as("ordered"))
      .select(col("scene_id"), col("frame_id"),
        transform(col("ordered"), x => x.getField("box")).as("bounding_boxes_3d"))

    val withBoxes = dedupImages
      .select(col("scene_id"), col("frame_id"), col("img_path"))
      .join(boxes, Seq("scene_id", "frame_id"), "left")
    val withPoses = poses match {
      case Some(p) => withBoxes.join(p.select(col("scene_id"), col("frame_id"), col("extrinsics")),
        Seq("scene_id", "frame_id"), "left")
      case None => withBoxes.withColumn("extrinsics", lit(null).cast("array<array<double>>"))
    }

    // defaults per matterport_processor.py:183-188 (intrinsics) and :218
    // (1280×1024 fallback resolution; image payloads aren't in the landing)
    withPoses.select(
      lit("matterport").as("dataset"),
      lit("train").as("split"),
      col("scene_id"),
      col("frame_id"),
      concat_ws("_", col("scene_id"), col("frame_id")).as("image_id"),
      regexp_extract(col("img_path"), "([^/]+)$", 1).as("filename"),
      lit("none").as("depth_type"),
      struct(
        lit(1000.0).as("fx"), lit(1000.0).as("fy"),
        lit(640.0).as("cx"), lit(512.0).as("cy"),
        lit(1280).as("image_width"), lit(1024).as("image_height"),
        array(
          array(lit(1000.0), lit(0.0), lit(640.0)),
          array(lit(0.0), lit(1000.0), lit(512.0)),
          array(lit(0.0), lit(0.0), lit(1.0))
        ).as("intrinsics"),
        col("extrinsics")
      ).as("camera"),
      coalesce(col("bounding_boxes_3d"), array().cast(bbox3dDdl)).as("bounding_boxes_3d")
    )
  }
}
