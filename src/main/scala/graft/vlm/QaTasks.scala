package graft.vlm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The six 3D QA task generators as [[QaPrimitives.QaTask]]s: declarative
  * `DataFrame => DataFrame` transforms over unified frame records, each
  * with the in-frame key its rows are numbered by (SURVEY.md §7.1 step 5).
  *
  * Every task is per-frame work, and it stays in the frame's row: array
  * functions over the frame's box array pick the first box per category
  * ([[QaPrimitives.firstPerCategory]]), count categories
  * ([[QaPrimitives.categoryCounts]]), form the `i < j` box pairs
  * ([[boxPairs]]) and the camera distances, and then explode the frame's
  * QA rows. So no task joins, groups or windows, and the only exchange in
  * a task is its id step ([[graft.RangeBuckets.withContiguousIds]]): it routes
  * the rows to `image_id` ranges sampled once per run, sorts within them by
  * the task's order key, and numbers the rows from per-partition offsets
  * (eager, it stores the sorted rows).
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
  import QaPrimitives.{FrameMeta, QaTask, categoryCounts, distractor, firstPerCategory, metaMap, shuffleToLetter}

  // ---- config mirroring QA_generation/config.py:91-121 -------------------
  val MinCountObjects = 1 // object_count: params.get('min_objects', 1)
  val MaxTotalForCategorySpecific = 5 // params.get('max_objects_for_category_specific', 5)
  val SizeNumOptions = 4
  val SizeDistractorRange = (0.4, 1.8)
  val ObjObjMinDistance = 0.2
  val ObjObjMaxDistance = 20.0
  val CamObjMinDistance = 0.1
  val V1SamplesPerFrame = 2

  /** Skew guard for the J8 pair tasks (SURVEY §7.4 item 2): a frame with n
    * boxes emits n² /2 pairs, so one pathological frame (a mislabeled scene
    * with thousands of instances) would dominate its partition at corpus
    * scale. Frames keep their first `MaxPairBoxes` boxes (by bbox index —
    * deterministic) for pair-shaped tasks; reference-scale frames (≤ tens of
    * boxes) are unaffected.
    */
  val MaxPairBoxes = 64

  // ------------------------------------------------------------------ tasks

  /** object_count — tasks/tasks_3d/object_count_qa.py:28-100. */
  val objectCount = new QaTask("object_count", Nil, objectCountRows)

  /** object_3d_size — tasks/tasks_3d/object_3d_size_qa.py:28-100. */
  val object3dSize = new QaTask("object_3d_size", Seq(col("bbox.category")), object3dSizeRows)

  /** cam_obj_distance — tasks/tasks_3d/cam_obj_distance_qa.py:28-100;
    * distance = ‖center‖, boxes already camera-frame (geometry.py:401-421).
    */
  val camObjDistance = new QaTask("cam_obj_distance", Seq(col("bbox.category")), camObjDistanceRows)

  /** obj_obj_distance — tasks/tasks_3d/obj_obj_distance_qa.py:28-100 (J8
    * in-row i<j pairs; min 8×8 vertex distance; 0.2–20 m gate).
    */
  val objObjDistance = new QaTask("obj_obj_distance", Seq(col("i"), col("j")), objObjDistanceRows)

  /** obj_obj_rel_pos — tasks/tasks_3d/obj_obj_rel_pos_qa.py:28-140 over
    * geometry.py:424-495: camera-frame center diffs, 0.1 m threshold,
    * seeded aspect choice.
    */
  val objObjRelPos = new QaTask("obj_obj_rel_pos", Seq(col("i"), col("j")), objObjRelPosRows)

  /** cam_obj_rel_dist — tasks/tasks_3d/cam_obj_rel_dist_qa.py: distances
    * from the *extrinsics* camera position to min vertices (the second
    * distance semantics, deliberately different from cam_obj_distance —
    * SURVEY §7.3), three variants with seeded sampling.
    */
  val camObjRelDist = new QaTask("cam_obj_rel_dist", Seq(col("ord1"), col("ord2")), camObjRelDistRows)

  /** All tasks keyed by their reference task name. */
  def all: Map[String, QaTask] =
    Seq(objectCount, object3dSize, camObjDistance, objObjDistance, objObjRelPos, camObjRelDist).map(t => t.name -> t).toMap

  /** The first box of each category of every frame, one row per box
    * (`bbox`), with the frame columns.
    */
  private def firstBoxes(frames: DataFrame): DataFrame =
    FrameSchema.withSourceTag(frames).select(
      col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"), col("camera"),
      explode(firstPerCategory(col("bounding_boxes_3d"))).as("bbox"))

  private def vertsOf(b: Column): Column =
    bboxVerticesCol(
      b.getField("x"), b.getField("y"), b.getField("z"),
      b.getField("xl"), b.getField("yl"), b.getField("zl"),
      b.getField("pitch"), b.getField("yaw"), b.getField("roll"))

  /** The `i < j` box pairs of each frame with at least two boxes, formed
    * inside the frame row: the vertices are computed once per box for the
    * first [[MaxPairBoxes]] boxes, and an in-row array of pairs is
    * exploded. Pairs never cross frame rows, even when two frames share an
    * `image_id` (as in the reference's per-document loop). Columns: image_id,
    * scene_id, frame_id, _source_file, i, j, b1, b2 (the boxes), w1, w2
    * (their vertices) and, with `cameraFrame`, c1, c2 (the vertices in the
    * camera frame; frames without extrinsics are dropped).
    */
  private[vlm] def boxPairs(frames: DataFrame, cameraFrame: Boolean): DataFrame = {
    val extrinsics = col("camera").getField("extrinsics")
    val multi = FrameSchema.withSourceTag(frames).filter(size(col("bounding_boxes_3d")) >= 2)
    val framed = if (cameraFrame) multi.filter(extrinsics.isNotNull) else multi
    val world = transform(slice(col("bounding_boxes_3d"), 1, MaxPairBoxes),
      (b, k) => struct(k.as("idx"), b.as("bbox"), vertsOf(b).as("w")))
    val boxes = framed.select(
      col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"),
      (if (!cameraFrame) world
       else transform(world, x => struct(x("idx").as("idx"), x("bbox").as("bbox"), x("w").as("w"),
         toCameraFrameCol(x("w"), extrinsics).as("c")))).as("bx"))
    val n = size(col("bx"))
    def pair(x: Column, y: Column): Column = struct(
      Seq(x("idx").as("i"), y("idx").as("j"), x("bbox").as("b1"), y("bbox").as("b2"),
        x("w").as("w1"), y("w").as("w2")) ++
        (if (cameraFrame) Seq(x("c").as("c1"), y("c").as("c2")) else Nil): _*)
    boxes.select(
      col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"),
      inline(flatten(transform(col("bx"),
        (x, i) => transform(slice(col("bx"), i + 2, n - i - 1), y => pair(x, y))))))
  }

  private def objectCountRows(frames: DataFrame): DataFrame = {
    val cats = filter(transform(col("bounding_boxes_3d"), b => parseClassCategoryCol(b.getField("category"))),
      r => r =!= "unknown")
    val perFrame = FrameSchema.withSourceTag(frames)
      .withColumn("counts", filter(categoryCounts(cats), c => c("cnt") >= MinCountObjects))
      .filter(size(col("counts")) > 0)
      .withColumn("total", aggregate(col("counts"), lit(0), (acc, c) => acc + c("cnt")))
      .withColumn("ncats", size(col("counts")))
      // argmax count, tie → earliest first occurrence (Python max() over
      // Counter insertion order)
      .withColumn("tstruct", array_max(transform(col("counts"),
        (c, k) => struct(c("cnt").as("tcnt"), (-k).as("first"), c("readable").as("target")))))
      .withColumn("cat_counts", map_from_entries(sort_array(col("counts"))))
    perFrame
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
        metaMap(FrameMeta,
          "question_type" -> when(col("specific"), lit("category_specific")).otherwise(lit("total_count")),
          "target_category" -> when(col("specific"), col("target")).otherwise(lit("all_objects")),
          "total_objects" -> col("total"),
          "category_counts" -> to_json(col("cat_counts")),
          "unit" -> lit("count")
        ))
  }

  private def object3dSizeRows(frames: DataFrame): DataFrame = {
    val sized = firstBoxes(frames)
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
    shuffleToLetter(sized, col("opts"), col("ans").cast("string"), col("seed"))
      .withColumn("question", format_string("What is the length of the longest dimension of the %s in centimeters?", col("readable")))
      .withColumn("answer", col("_letter"))
      .withColumn("answer_type", lit("multiple_choice"))
      .withColumn("options", col("_shuffled"))
      .withColumn(
        "metadata",
        metaMap(FrameMeta,
          "category" -> col("bbox.category"),
          "readable_category" -> col("readable"),
          "correct_size_cm" -> col("ans"),
          "answer_value" -> col("ans"),
          "unit" -> lit("centimeters")
        ))
  }

  private def camObjDistanceRows(frames: DataFrame): DataFrame =
    firstBoxes(frames)
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
        metaMap(FrameMeta,
          "category" -> col("bbox.category"),
          "readable_category" -> col("readable"),
          "distance_meters" -> round(col("dist"), 1),
          "unit" -> lit("meters"),
          "uses_extrinsics" -> col("camera").getField("extrinsics").isNotNull
        ))

  private def objObjDistanceRows(frames: DataFrame): DataFrame =
    boxPairs(frames, cameraFrame = false)
      .withColumn("dist", minBoxDistanceCol(col("w1"), col("w2")))
      .filter(col("dist") >= ObjObjMinDistance && col("dist") <= ObjObjMaxDistance)
      .withColumn("question",
        format_string("What is the distance between the %s and the %s in meters?",
          col("b1").getField("category"), col("b2").getField("category")))
      .withColumn("answer", round(col("dist"), 1).cast("string"))
      .withColumn("answer_type", lit("numerical"))
      .withColumn("options", lit(null).cast("array<string>"))
      .withColumn(
        "metadata",
        metaMap(FrameMeta,
          "object1_category" -> col("b1").getField("category"),
          "object2_category" -> col("b2").getField("category"),
          "distance_meters" -> round(col("dist"), 1),
          "unit" -> lit("meters")
        ))

  private def objObjRelPosRows(frames: DataFrame): DataFrame = {
    val rel = boxPairs(frames, cameraFrame = true)
      .withColumn("min_dist", minBoxDistanceCol(col("w1"), col("w2")))
      .withColumn("rp", relativePositionCol(col("c1"), col("c2")))
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
    withAspects
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
        metaMap(FrameMeta,
          "object1_category" -> col("b1").getField("category"),
          "object2_category" -> col("b2").getField("category"),
          "aspect" -> col("pick.t"),
          "depth_relation" -> col("rp").getField("_1"),
          "horizontal_relation" -> col("rp").getField("_2"),
          "vertical_relation" -> col("rp").getField("_3"),
          "center_distance" -> round(col("rp").getField("_4"), 3),
          "min_distance" -> round(col("min_dist"), 3)
        ))
  }

  private def camObjRelDistRows(frames: DataFrame): DataFrame = {
    val perFrame = FrameSchema.withSourceTag(frames)
      .withColumn("cam_pos", cameraPositionCol(col("camera").getField("extrinsics")))
      .filter(col("cam_pos").isNotNull && size(col("bounding_boxes_3d")) >= 2)
      .select(
        col("image_id"), col("scene_id"), col("frame_id"), col("_source_file"),
        transform(col("bounding_boxes_3d"), (b, i) => struct(i.as("idx"), b.getField("category").as("cat"),
          cameraToBoxDistanceCol(col("cam_pos"), vertsOf(b)).as("dist"))).as("by_idx"))
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
        metaMap(FrameMeta,
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
        metaMap(FrameMeta,
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
        metaMap(FrameMeta,
          "variant" -> lit("v3_ranking"),
          "ordered_objects" -> to_json(col("cats")),
          "distances" -> to_json(map_from_entries(transform(col("sampled"), x => struct(x.getField("o").getField("cat"), round(x.getField("o").getField("dist"), 2)))))
        ))
      .withColumn("ord1", lit(200)).withColumn("ord2", lit(0))

    val cols = Seq("image_id", "_source_file", "scene_id", "frame_id",
      "question", "answer", "answer_type", "options", "metadata", "ord1", "ord2")
    v1.selectExpr(cols: _*)
      .unionByName(v2.selectExpr(cols: _*))
      .unionByName(v3.selectExpr(cols: _*))
  }
}
