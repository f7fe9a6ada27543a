package graft.vlm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The six 3D QA task generators as declarative `DataFrame => DataFrame`
  * transforms over unified frame records (SURVEY.md §7.1 step 5).
  *
  * Every task is per-frame work: explode → column math/UDF → re-assemble, so
  * the plans are shuffle-free except (a) the pair self-joins, which shuffle
  * once on `image_id` and stay partition-local after that, and (b) the
  * contiguous QA ids, which range-partition and sort on each task's unique
  * order key and number the rows from per-partition offsets
  * ([[QaPrimitives.withContiguousIds]]: eager, it stores the sorted rows).
  * All randomness (distractors, option shuffles, sampling) is md5-seeded on
  * stable row identity — a documented improvement over the reference's
  * unseeded `random` (SURVEY §7.4 item 3): identical output for any
  * partitioning, cluster size, or rerun.
  *
  * Output schema matches [[FrameSchema.QaPair]]:
  * (id, question, answer, answer_type, options, metadata).
  */
object QaTasks {
  import GeoFunctions._

  // ---- config mirroring QA_generation/config.py:91-121 -------------------
  val MinCountObjects = 1 // object_count: params.get('min_objects', 1)
  val MaxTotalForCategorySpecific = 5 // params.get('max_objects_for_category_specific', 5)
  val SizeNumOptions = 4
  val SizeDistractorRange = (0.4, 1.8)
  val ObjObjMinDistance = 0.2
  val ObjObjMaxDistance = 20.0
  val ObjObjDistractorRange = (0.5, 1.5)
  val CamObjMinDistance = 0.1
  val RelPosThreshold = 0.1
  val V1SamplesPerFrame = 2

  /** Skew guard for the J8 pair self-joins (SURVEY §7.4 item 2): a frame
    * with n boxes emits n² /2 pairs, so one pathological frame (a mislabeled
    * scene with thousands of instances) would dominate its partition at
    * corpus scale. Frames keep their first `MaxPairBoxes` boxes (by bbox
    * index — deterministic) for pair-shaped tasks; reference-scale frames
    * (≤ tens of boxes) are unaffected.
    */
  val MaxPairBoxes = 64

  /** All tasks keyed by their reference task name. */
  def all: Map[String, (DataFrame, String) => DataFrame] = Map(
    "object_count" -> objectCount,
    "object_3d_size" -> object3dSize,
    "cam_obj_distance" -> camObjDistance,
    "obj_obj_distance" -> objObjDistance,
    "obj_obj_rel_pos" -> objObjRelPos,
    "cam_obj_rel_dist" -> camObjRelDist
  )

  private def metaCommon: Seq[(String, Column)] = Seq(
    "source_file" -> coalesce(col("_source_file"), lit("")),
    "image_id" -> coalesce(col("image_id"), lit("")),
    "scene_id" -> coalesce(col("scene_id"), lit("")),
    "frame_id" -> coalesce(col("frame_id"), lit(""))
  )

  private def metaMap(extra: (String, Column)*): Column =
    map((metaCommon ++ extra).flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*)

  /** Ensure the frame DF carries a `_source_file` column (S1 tagging). */
  private def withSource(frames: DataFrame): DataFrame =
    FrameSchema.withSourceTag(frames)

  /** Exploded 3D boxes with positional index. */
  private def boxes(frames: DataFrame): DataFrame =
    withSource(frames)
      .filter(size(col("bounding_boxes_3d")) > 0)
      .select(
        col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"), col("camera"),
        posexplode(col("bounding_boxes_3d")).as(Seq("bbox_idx", "bbox"))
      )

  private def vertsOf(b: Column): Column =
    bboxVerticesCol(
      b.getField("x"), b.getField("y"), b.getField("z"),
      b.getField("xl"), b.getField("yl"), b.getField("zl"),
      b.getField("pitch"), b.getField("yaw"), b.getField("roll"))

  import QaPrimitives.{assignQaIds, distractor, shuffleToLetter}

  // ------------------------------------------------------------------ tasks

  /** object_count — tasks/tasks_3d/object_count_qa.py:28-100. */
  def objectCount(frames: DataFrame, datasetName: String): DataFrame = {
    val b = boxes(frames)
      .withColumn("readable", parseClassCategoryCol(col("bbox").getField("category")))
    val counts = b
      .groupBy(col("image_id"), col("readable"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col("bbox_idx")).as("first_idx"),
        first(col("scene_id")).as("scene_id"),
        first(col("frame_id")).as("frame_id"),
        first(col("_source_file")).as("_source_file")
      )
      .filter(col("readable") =!= "unknown" && col("cnt") >= MinCountObjects)
    val perFrame = counts
      .groupBy(col("image_id"))
      .agg(
        sum(col("cnt")).as("total"),
        count(lit(1)).as("ncats"),
        // argmax count, tie → earliest first occurrence (Python max() over
        // Counter insertion order)
        max_by(
          struct(col("readable").as("target"), col("cnt").as("tcnt")),
          struct(col("cnt"), -col("first_idx"))
        ).as("tstruct"),
        map_from_entries(sort_array(collect_list(struct(col("readable"), col("cnt"))))).as("cat_counts"),
        first(col("scene_id")).as("scene_id"),
        first(col("frame_id")).as("frame_id"),
        first(col("_source_file")).as("_source_file")
      )
    val q = perFrame
      .withColumn("target", col("tstruct").getField("target"))
      .withColumn("target_cnt", col("tstruct").getField("tcnt"))
      .withColumn("specific", col("ncats") === 1 || col("total") <= MaxTotalForCategorySpecific)
      .withColumn(
        "question",
        when(col("specific"), format_string("How many %ss are visible in this image?", col("target")))
          .otherwise(lit("How many objects are visible in this image?")))
      .withColumn("answer", when(col("specific"), col("target_cnt")).otherwise(col("total")).cast("string"))
      .withColumn("answer_type", lit("numerical"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn(
        "metadata",
        metaMap(
          "question_type" -> when(col("specific"), lit("category_specific")).otherwise(lit("total_count")),
          "target_category" -> when(col("specific"), col("target")).otherwise(lit("all_objects")),
          "total_objects" -> col("total"),
          "category_counts" -> to_json(col("cat_counts")),
          "unit" -> lit("count")
        ))
    assignQaIds(q, datasetName, "object_count", Seq(col("image_id")))
  }

  /** object_3d_size — tasks/tasks_3d/object_3d_size_qa.py:28-100. */
  def object3dSize(frames: DataFrame, datasetName: String): DataFrame = {
    val w = Window.partitionBy(col("image_id"), col("bbox.category")).orderBy(col("bbox_idx"))
    val firstPerCat = boxes(frames)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
    val sized = firstPerCat
      .withColumn("readable", parseClassCategoryCol(col("bbox").getField("category")))
      .withColumn("size_cm", maxDimCol(col("bbox.xl"), col("bbox.yl"), col("bbox.zl")) * 100)
      .withColumn("seed", concat(col("image_id"), lit("|object_3d_size|"), col("bbox.category")))
      .withColumn("ans", round(col("size_cm"), 1))
      .withColumn(
        "opts",
        array(
          round(col("size_cm"), 1) +:
            (1 to SizeNumOptions - 1).map(k => round(distractor(col("size_cm"), col("seed"), k, SizeDistractorRange), 1)): _*
        ).cast("array<string>"))
    val shuffled = shuffleToLetter(sized, col("opts"), col("ans").cast("string"), col("seed"))
      .withColumn("question", format_string("What is the length of the longest dimension of the %s in centimeters?", col("readable")))
      .withColumn("answer", col("_letter"))
      .withColumn("answer_type", lit("multiple_choice"))
      .withColumn("options", col("_shuffled"))
      .withColumn(
        "metadata",
        metaMap(
          "category" -> col("bbox.category"),
          "readable_category" -> col("readable"),
          "correct_size_cm" -> col("ans"),
          "answer_value" -> col("ans"),
          "unit" -> lit("centimeters")
        ))
    assignQaIds(shuffled, datasetName, "object_3d_size", Seq(col("image_id"), col("bbox.category")))
  }

  /** cam_obj_distance — tasks/tasks_3d/cam_obj_distance_qa.py:28-100;
    * distance = ‖center‖, boxes already camera-frame (geometry.py:401-421).
    */
  def camObjDistance(frames: DataFrame, datasetName: String): DataFrame = {
    val w = Window.partitionBy(col("image_id"), col("bbox.category")).orderBy(col("bbox_idx"))
    val q = boxes(frames)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .withColumn("dist", centerDistanceCol(col("bbox.x"), col("bbox.y"), col("bbox.z")))
      .filter(col("dist") >= CamObjMinDistance)
      .withColumn("readable", parseClassCategoryCol(col("bbox").getField("category")))
      .withColumn("question",
        format_string("What is the approximate distance (in meters) between the camera and the nearest point of the %s?", col("readable")))
      .withColumn("answer", round(col("dist"), 1).cast("string"))
      .withColumn("answer_type", lit("numerical"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn(
        "metadata",
        metaMap(
          "category" -> col("bbox.category"),
          "readable_category" -> col("readable"),
          "distance_meters" -> round(col("dist"), 1),
          "unit" -> lit("meters"),
          "uses_extrinsics" -> col("camera").getField("extrinsics").isNotNull
        ))
    assignQaIds(q, datasetName, "cam_obj_distance", Seq(col("image_id"), col("bbox.category")))
  }

  /** obj_obj_distance — tasks/tasks_3d/obj_obj_distance_qa.py:28-100 (J8
    * i<j pair self-join; min 8×8 vertex distance; 0.2–20 m gate).
    */
  def objObjDistance(frames: DataFrame, datasetName: String): DataFrame = {
    val b = boxes(frames)
      .filter(col("bbox_idx") < MaxPairBoxes) // J8 skew guard
      .withColumn("verts", vertsOf(col("bbox")))
    val a = b.select(
      col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"),
      col("bbox_idx").as("i"), col("bbox").as("b1"), col("verts").as("v1"))
    val c = b.select(col("image_id").as("image_id2"), col("bbox_idx").as("j"), col("bbox").as("b2"), col("verts").as("v2"))
    val q = a
      .join(c, col("image_id") === col("image_id2") && col("i") < col("j"))
      .withColumn("dist", minBoxDistanceCol(col("v1"), col("v2")))
      .filter(col("dist") >= ObjObjMinDistance && col("dist") <= ObjObjMaxDistance)
      .withColumn("question",
        format_string("What is the distance between the %s and the %s in meters?",
          col("b1").getField("category"), col("b2").getField("category")))
      .withColumn("answer", round(col("dist"), 1).cast("string"))
      .withColumn("answer_type", lit("numerical"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn(
        "metadata",
        metaMap(
          "object1_category" -> col("b1").getField("category"),
          "object2_category" -> col("b2").getField("category"),
          "distance_meters" -> round(col("dist"), 1),
          "unit" -> lit("meters")
        ))
    assignQaIds(q, datasetName, "obj_obj_distance", Seq(col("image_id"), col("i"), col("j")))
  }

  /** obj_obj_rel_pos — tasks/tasks_3d/obj_obj_rel_pos_qa.py:28-140 over
    * geometry.py:424-495: camera-frame center diffs, 0.1 m threshold,
    * seeded aspect choice.
    */
  def objObjRelPos(frames: DataFrame, datasetName: String): DataFrame = {
    val b = boxes(frames)
      .filter(col("camera").getField("extrinsics").isNotNull)
      .filter(col("bbox_idx") < MaxPairBoxes) // J8 skew guard
      .withColumn("verts", vertsOf(col("bbox")))
      .withColumn("cverts", toCameraFrameCol(col("verts"), col("camera").getField("extrinsics")))
    val a = b.select(
      col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"),
      col("bbox_idx").as("i"), col("bbox").as("b1"), col("verts").as("w1"), col("cverts").as("v1"))
    val c = b.select(col("image_id").as("image_id2"), col("bbox_idx").as("j"), col("bbox").as("b2"), col("verts").as("w2"), col("cverts").as("v2"))
    val rel = a
      .join(c, col("image_id") === col("image_id2") && col("i") < col("j"))
      .withColumn("min_dist", minBoxDistanceCol(col("w1"), col("w2")))
      .withColumn("rp", relativePositionUdf(col("v1"), col("v2")))
      .withColumn("r1", parseClassCategoryCol(col("b1").getField("category")))
      .withColumn("r2", parseClassCategoryCol(col("b2").getField("category")))
    // candidate aspects in the reference's fixed order: depth, horizontal, vertical
    val withAspects = rel
      .withColumn(
        "aspects",
        filter(
          array(
            struct(lit("depth").as("t"), col("rp").getField("_1").as("rel")),
            struct(lit("horizontal").as("t"), col("rp").getField("_2").as("rel")),
            struct(lit("vertical").as("t"), col("rp").getField("_3").as("rel"))
          ),
          x => !x.getField("rel").startsWith("Same")
        ))
      .filter(size(col("aspects")) > 0)
      .withColumn("seed", concat(col("image_id"), lit("|obj_obj_rel_pos|"), col("i"), lit("_"), col("j")))
      .withColumn("pick", element_at(col("aspects"), (floor(seededUniform(col("seed")) * size(col("aspects"))) + 1).cast("int")))
    val q = withAspects
      .withColumn(
        "question",
        when(col("pick.t") === "depth",
          format_string("Is the %s nearer or farther than the %s from the camera?", col("r1"), col("r2")))
          .when(col("pick.t") === "horizontal",
            format_string("Is the %s to the left or right of the %s from the camera's perspective?", col("r1"), col("r2")))
          .otherwise(format_string("Is the %s above or below the %s from the camera's perspective?", col("r1"), col("r2"))))
      .withColumn("answer", lower(col("pick.rel")))
      .withColumn("answer_type", lit("text"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn(
        "metadata",
        metaMap(
          "object1_category" -> col("b1").getField("category"),
          "object2_category" -> col("b2").getField("category"),
          "aspect" -> col("pick.t"),
          "depth_relation" -> col("rp").getField("_1"),
          "horizontal_relation" -> col("rp").getField("_2"),
          "vertical_relation" -> col("rp").getField("_3"),
          "center_distance" -> round(col("rp").getField("_4"), 3),
          "min_distance" -> round(col("min_dist"), 3)
        ))
    assignQaIds(q, datasetName, "obj_obj_rel_pos", Seq(col("image_id"), col("i"), col("j")))
  }

  /** cam_obj_rel_dist — tasks/tasks_3d/cam_obj_rel_dist_qa.py: distances
    * from the *extrinsics* camera position to min vertices (the second
    * distance semantics, deliberately different from cam_obj_distance —
    * SURVEY §7.3), three variants with seeded sampling.
    */
  def camObjRelDist(frames: DataFrame, datasetName: String): DataFrame = {
    val withCam = boxes(frames)
      .withColumn("cam_pos", cameraPositionUdf(col("camera").getField("extrinsics")))
      .filter(col("cam_pos").isNotNull)
      .withColumn("verts", vertsOf(col("bbox")))
      .withColumn("dist", cameraToBoxDistanceCol(col("cam_pos"), col("verts")))
    val perFrame = withCam
      .groupBy(col("image_id"))
      .agg(
        sort_array(collect_list(struct(col("bbox_idx").as("idx"), col("bbox").getField("category").as("cat"), col("dist").as("dist")))).as("by_idx"),
        first(col("scene_id")).as("scene_id"),
        first(col("frame_id")).as("frame_id"),
        first(col("_source_file")).as("_source_file")
      )
      .filter(size(col("by_idx")) >= 2)
      .withColumn("n", size(col("by_idx")))
      .withColumn("by_dist", array_sort(transform(col("by_idx"), x => struct(x.getField("dist").as("dist"), x.getField("idx").as("idx"), x.getField("cat").as("cat")))))
      .withColumn("seed", concat(col("image_id"), lit("|cam_obj_rel_dist")))

    // ---- v1: 2 seeded pairs from the distance-sorted list; closest+farthest
    val v1 = perFrame
      .withColumn("k", explode(sequence(lit(0), least(lit(V1SamplesPerFrame), col("n") - 1) - 1)))
      .withColumn("u1", seededUniform(concat(col("seed"), lit(":v1:"), col("k"), lit(":1"))))
      .withColumn("u2", seededUniform(concat(col("seed"), lit(":v1:"), col("k"), lit(":2"))))
      .withColumn("idx1", floor(col("u1") * col("n")).cast("int"))
      .withColumn("idx2r", floor(col("u2") * (col("n") - 1)).cast("int"))
      .withColumn("idx2", when(col("idx2r") >= col("idx1"), col("idx2r") + 1).otherwise(col("idx2r")))
      .withColumn("o1", element_at(col("by_dist"), col("idx1") + 1))
      .withColumn("o2", element_at(col("by_dist"), col("idx2") + 1))
      .withColumn("variant", explode(array(lit("v1_closest"), lit("v1_farthest"))))
      .withColumn(
        "question",
        when(col("variant") === "v1_closest",
          format_string("Which object is closest to the camera, %s or %s?", col("o1.cat"), col("o2.cat")))
          .otherwise(format_string("Which object is farthest from the camera, %s or %s?", col("o1.cat"), col("o2.cat"))))
      .withColumn(
        "answer",
        when(col("variant") === "v1_closest",
          when(col("o1.dist") < col("o2.dist"), col("o1.cat")).otherwise(col("o2.cat")))
          .otherwise(when(col("o1.dist") > col("o2.dist"), col("o1.cat")).otherwise(col("o2.cat"))))
      .withColumn("answer_type", lit("text"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn(
        "metadata",
        metaMap(
          "variant" -> col("variant"),
          "object1" -> col("o1.cat"),
          "object2" -> col("o2.cat"),
          "distance1" -> round(col("o1.dist"), 2),
          "distance2" -> round(col("o2.dist"), 2)
        ))
      .withColumn("ord1", col("k")).withColumn("ord2", when(col("variant") === "v1_closest", 0).otherwise(1))

    // ---- v2: seeded sample of ≤4 objects, multiple-choice closest
    val v2base = perFrame
      .filter(col("n") >= 3)
      .withColumn(
        "sampled",
        array_sort(
          slice(
            array_sort(transform(col("by_idx"), x =>
              struct(md5(concat(col("seed"), lit(":v2:"), x.getField("idx").cast("string"))).as("k"), x.as("o")))),
            1, 4
          ),
          (l, r) => when(l.getField("o").getField("dist") < r.getField("o").getField("dist"), -1)
            .when(l.getField("o").getField("dist") > r.getField("o").getField("dist"), 1)
            .otherwise(0).cast("int")
        ))
      .withColumn("opts", transform(col("sampled"), x => x.getField("o").getField("cat")))
      .withColumn("correct", element_at(col("opts"), 1))
    val v2 = shuffleToLetter(v2base, col("opts"), col("correct"), concat(col("seed"), lit(":v2s")))
      .withColumn("question", lit("Which object is closest to the camera?"))
      .withColumn("answer", col("_letter"))
      .withColumn("answer_type", lit("multiple_choice"))
      .withColumn("options", col("_shuffled"))
      .withColumn(
        "metadata",
        metaMap(
          "variant" -> lit("v2_multiple_choice"),
          "answer_value" -> col("correct"),
          "distances" -> to_json(map_from_entries(transform(col("sampled"), x => struct(x.getField("o").getField("cat"), round(x.getField("o").getField("dist"), 2)))))
        ))
      .withColumn("ord1", lit(100)).withColumn("ord2", lit(0))

    // ---- v3: seeded sample of 3 objects, rank by distance
    val v3 = perFrame
      .filter(col("n") >= 3)
      .withColumn(
        "sampled",
        array_sort(
          slice(
            array_sort(transform(col("by_idx"), x =>
              struct(md5(concat(col("seed"), lit(":v3:"), x.getField("idx").cast("string"))).as("k"), x.as("o")))),
            1, 3
          ),
          (l, r) => when(l.getField("o").getField("dist") < r.getField("o").getField("dist"), -1)
            .when(l.getField("o").getField("dist") > r.getField("o").getField("dist"), 1)
            .otherwise(0).cast("int")
        ))
      .withColumn("cats", transform(col("sampled"), x => x.getField("o").getField("cat")))
      .withColumn("question",
        format_string("Rank these three objects by distance from the camera (closest to farthest): %s", array_join(col("cats"), ", ")))
      .withColumn("answer", array_join(col("cats"), ", "))
      .withColumn("answer_type", lit("text"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn(
        "metadata",
        metaMap(
          "variant" -> lit("v3_ranking"),
          "ordered_objects" -> to_json(col("cats")),
          "distances" -> to_json(map_from_entries(transform(col("sampled"), x => struct(x.getField("o").getField("cat"), round(x.getField("o").getField("dist"), 2)))))
        ))
      .withColumn("ord1", lit(200)).withColumn("ord2", lit(0))

    val cols = Seq("image_id", "question", "answer", "answer_type", "options", "metadata", "ord1", "ord2")
    val unioned = v1.selectExpr(cols: _*)
      .unionByName(v2.selectExpr(cols: _*))
      .unionByName(v3.selectExpr(cols: _*))
    assignQaIds(unioned, datasetName, "cam_obj_rel_dist", Seq(col("image_id"), col("ord1"), col("ord2")))
  }
}
