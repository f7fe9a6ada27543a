package graft.vlm

import org.apache.spark.sql.DataFrame
import FrameSchema._

/** Task-level specs over a synthetic fixture corpus — ports the reference's
  * inline mini-tests (object_count_qa.py:103-122) and checks the structural
  * invariants the reference's nondeterminism allows (SURVEY §5 test plan):
  * counts, answer-consistency (letter ↔ value), threshold gating,
  * determinism across runs.
  */
class QaTasksSpec extends SparkSpec {
  import spark.implicits._

  private def box(cat: String, x: Double = 1, y: Double = 1, z: Double = 1,
                  xl: Double = 1, yl: Double = 1, zl: Double = 1): Bbox3D =
    Bbox3D(x, y, z, xl, yl, zl, 0, 0, 0, cat)

  private val identityExtrinsics: Seq[Seq[Double]] = Seq(
    Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0), Seq(0, 0, 0, 1.0))

  private def cam(extr: Option[Seq[Seq[Double]]]): Camera =
    Camera(500, 500, 320, 240, 640, 480,
      Seq(Seq(500.0, 0, 320), Seq(0, 500.0, 240), Seq(0, 0, 1.0)), extr)

  private def frame(id: String, boxes: Seq[Bbox3D], extr: Option[Seq[Seq[Double]]] = Some(identityExtrinsics)): FrameRecord =
    FrameRecord("testds", "split0", id, Some("scene0"), None, Some("0"), None, None, None,
      "none", cam(extr), None, Seq.empty, boxes, None)

  private lazy val fixture: DataFrame = Seq(
    // reference fixture: 2 persons + 1 chair (object_count_qa.py:107-115)
    frame("img_001", Seq(box("person", 1, 1, 1), box("person", 2, 2, 2), box("chair", 3, 3, 3))),
    // two objects 3 m apart on X (unit boxes → gap 2.0)
    frame("img_002", Seq(box("table", 0, 0, 2), box("lamp", 3, 0, 2))),
    // single object, class_N category
    frame("img_003", Seq(box("class_84", 0, 0, 4, 0.5, 2.5, 0.5))),
    // no boxes → excluded everywhere
    frame("img_004", Seq.empty),
    // no extrinsics → excluded from rel_pos / rel_dist
    frame("img_005", Seq(box("sofa", 0, 0, 1), box("tv", 2, 0, 5)), extr = None)
  ).toDF()

  test("object_count: category-specific question for small scenes (object_count_qa.py:66-80)") {
    val qa = QaTasks.objectCount(fixture, "testds").collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(qa.size == 4) // img_004 has no boxes
    val byImage = qa.values.map(r => r.getAs[Map[String, String]]("metadata")("image_id") -> r).toMap
    val q1 = byImage("img_001")
    assert(q1.getAs[String]("question") == "How many persons are visible in this image?")
    assert(q1.getAs[String]("answer") == "2")
    assert(q1.getAs[Map[String, String]]("metadata")("question_type") == "category_specific")
    assert(q1.getAs[Map[String, String]]("metadata")("total_objects") == "3")
    val q3 = byImage("img_003")
    // class_84 → object_84 readable fallback
    assert(q3.getAs[String]("question") == "How many object_84s are visible in this image?")
    assert(q3.getAs[String]("answer") == "1")
  }

  test("object_count: ids are contiguous and zero-based (qa_base.py:54-65)") {
    val ids = QaTasks.objectCount(fixture, "testds").collect().map(_.getAs[String]("id")).sorted
    assert(ids.head == "testds_object_count_000000")
    assert(ids.length == 4 && ids.last == "testds_object_count_000003")
  }

  test("object_3d_size: letter answer maps to correct value (object_3d_size_qa.py:52-100)") {
    val rows = QaTasks.object3dSize(fixture, "testds").collect()
    // one question per (frame, category): 2+2+1+0+2 = 7
    assert(rows.length == 7)
    rows.foreach { r =>
      val opts = r.getSeq[String](r.fieldIndex("options"))
      assert(opts.length == 4)
      val letter = r.getAs[String]("answer")
      assert(letter.length == 1 && letter >= "A" && letter <= "D")
      val meta = r.getAs[Map[String, String]]("metadata")
      val correct = meta("correct_size_cm")
      // the letter's option holds the correct value
      assert(opts(letter.charAt(0) - 'A') == correct)
    }
    val class84 = rows.find(_.getAs[Map[String, String]]("metadata")("category") == "class_84").get
    // max dim 2.5 m → 250 cm
    assert(class84.getAs[Map[String, String]]("metadata")("correct_size_cm") == "250.0")
    assert(class84.getAs[String]("question").contains("object_84"))
  }

  test("cam_obj_distance: ‖center‖ distance, min gate (cam_obj_distance_qa.py:56-100)") {
    val rows = QaTasks.camObjDistance(fixture, "testds").collect()
    val byCat = rows.map(r => r.getAs[Map[String, String]]("metadata")("category") -> r).toMap
    // person first occurrence at (1,1,1): sqrt(3) ≈ 1.7
    assert(byCat("person").getAs[String]("answer") == "1.7")
    // table at (0,0,2) → 2.0
    assert(byCat("table").getAs[String]("answer") == "2.0")
    assert(byCat("person").getAs[Map[String, String]]("metadata")("uses_extrinsics") == "true")
    assert(byCat("sofa").getAs[Map[String, String]]("metadata")("uses_extrinsics") == "false")
  }

  test("obj_obj_distance: min vertex distance with range gate (obj_obj_distance_qa.py:56-100)") {
    val rows = QaTasks.objObjDistance(fixture, "testds").collect()
    val img2 = rows.filter(_.getAs[Map[String, String]]("metadata")("image_id") == "img_002")
    assert(img2.length == 1)
    // unit boxes centered 3 m apart → min vertex gap 2.0
    assert(img2.head.getAs[String]("answer") == "2.0")
    assert(img2.head.getAs[String]("question") ==
      "What is the distance between the table and the lamp in meters?")
    // img_001: adjacent unit boxes at (1,1,1)/(2,2,2)/(3,3,3) touch at their
    // corners (gap 0 < 0.2 m min gate); only the 1↔3 pair (gap √3) survives
    val img1 = rows.filter(_.getAs[Map[String, String]]("metadata")("image_id") == "img_001")
    assert(img1.length == 1)
    assert(img1.head.getAs[String]("answer") == "1.7")
  }

  test("obj_obj_rel_pos: camera-frame relations with identity extrinsics (obj_obj_rel_pos_qa.py)") {
    val rows = QaTasks.objObjRelPos(fixture, "testds").collect()
    // img_005 has no extrinsics → excluded
    assert(!rows.exists(_.getAs[Map[String, String]]("metadata")("image_id") == "img_005"))
    val img2 = rows.filter(_.getAs[Map[String, String]]("metadata")("image_id") == "img_002")
    assert(img2.length == 1)
    val meta = img2.head.getAs[Map[String, String]]("metadata")
    // table at x=0 vs lamp at x=3: Left; same depth/vertical
    assert(meta("horizontal_relation") == "Left")
    assert(meta("depth_relation") == "Same depth")
    assert(meta("vertical_relation") == "Same vertical position")
    assert(img2.head.getAs[String]("answer") == "left")
  }

  test("cam_obj_rel_dist: v1/v2/v3 variants with seeded sampling (cam_obj_rel_dist_qa.py)") {
    val rows = QaTasks.camObjRelDist(fixture, "testds").collect()
    val byVariant = rows.groupBy(_.getAs[Map[String, String]]("metadata")("variant"))
    // img_001 (n=3): v1×2 samples×2 + v2 + v3 = 6; img_002 (n=2): v1×1×2 = 2
    assert(byVariant("v1_closest").length == 3)
    assert(byVariant("v1_farthest").length == 3)
    assert(byVariant("v2_multiple_choice").length == 1)
    assert(byVariant("v3_ranking").length == 1)
    // v1 answers are consistent with recorded distances
    byVariant("v1_closest").foreach { r =>
      val m = r.getAs[Map[String, String]]("metadata")
      val (d1, d2) = (m("distance1").toDouble, m("distance2").toDouble)
      val expected = if (d1 < d2) m("object1") else m("object2")
      assert(r.getAs[String]("answer") == expected)
    }
    // v3 ranking is ascending by distance
    val v3 = byVariant("v3_ranking").head.getAs[Map[String, String]]("metadata")
    assert(v3("ordered_objects").nonEmpty)
  }

  test("all tasks are deterministic across runs (seeded M3 randomness)") {
    QaTasks.all.foreach { case (name, fn) =>
      val a = fn(fixture, "testds").collect().map(_.toString).sorted
      val b = fn(fixture, "testds").collect().map(_.toString).sorted
      assert(a.sameElements(b), s"task $name not deterministic")
    }
  }

  test("withContiguousIds runs its jobs under the session's SQL confs, from any thread") {
    import org.apache.spark.sql.functions._
    // a duplicate map key is legal under the session's LAST_WIN and an
    // error under the default policy. The map is built in the map stage of
    // the range shuffle, which withContiguousIds itself runs, and inside a
    // lambda: Spark evaluates that without generated code, so the policy is
    // read from the task's SQL conf, not captured on the driver
    val dupMap = map(lit("k"), col("id"), lit("k"), col("id") + 1)
    val df = spark.range(0, 200, 1, 4)
      .select(col("id"), element_at(transform(array(lit(0)), _ => dupMap), 1).as("m"))
    def numbered(): Seq[(String, Long)] = {
      val out = QaPrimitives.withContiguousIds(df, "qid", "q%03d", Seq(col("id")))
      try out.select(col("qid"), col("m")("k")).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      finally QaPrimitives.release(out)
    }
    val expected = (0 until 200).map(i => (f"q$i%03d", i + 1L))
    assert(numbered() == expected)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try assert(pool.submit[Seq[(String, Long)]](() => numbered()).get() == expected)
    finally pool.shutdown()
  }
}
