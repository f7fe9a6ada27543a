package graft.vlm

import graft.RangeBuckets
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

  /** Reference pairs: every box of every frame exploded, then an
    * `image_id` self-join on `i < j` — the plan both pair tasks ran before
    * they formed their pairs in-row.
    */
  private def joinPairs(frames: DataFrame, cameraFrame: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    import GeoFunctions._
    val framed = if (cameraFrame) frames.filter(col("camera.extrinsics").isNotNull) else frames
    val b = framed
      .filter(size(col("bounding_boxes_3d")) > 0)
      .select(col("image_id"), col("camera"), posexplode(col("bounding_boxes_3d")).as(Seq("idx", "bbox")))
      .filter(col("idx") < QaTasks.MaxPairBoxes)
      .withColumn("w", bboxVerticesCol(col("bbox.x"), col("bbox.y"), col("bbox.z"),
        col("bbox.xl"), col("bbox.yl"), col("bbox.zl"), col("bbox.pitch"), col("bbox.yaw"), col("bbox.roll")))
      .withColumn("c", if (cameraFrame) toCameraFrameCol(col("w"), col("camera.extrinsics")) else lit(null))
    val a = b.select(col("image_id"), col("idx").as("i"), col("bbox").as("b1"), col("w").as("w1"), col("c").as("c1"))
    val c = b.select(col("image_id").as("image_id2"), col("idx").as("j"), col("bbox").as("b2"), col("w").as("w2"), col("c").as("c2"))
    a.join(c, col("image_id") === col("image_id2") && col("i") < col("j")).drop("image_id2")
  }

  private def pairRows(df: DataFrame, cameraFrame: Boolean): Seq[String] = {
    val cols = Seq("image_id", "i", "j", "b1", "b2", "w1", "w2") ++ (if (cameraFrame) Seq("c1", "c2") else Nil)
    df.selectExpr(cols: _*).collect().map(_.toString).toSeq.sorted
  }

  test("in-row box pairs equal the former image_id self-join, box cap and extrinsics filter included") {
    val rng = new scala.util.Random(5)
    def boxes(n: Int) = Seq.tabulate(n)(k =>
      box(s"c${rng.nextInt(6)}", rng.nextDouble() * 8 - 4, rng.nextDouble() * 2, 1 + rng.nextDouble() * 9,
        0.2 + rng.nextDouble(), 0.2 + rng.nextDouble(), 0.2 + rng.nextDouble()))
    val tilted = Some(Seq(Seq(0.0, -1.0, 0, 0.5), Seq(1.0, 0, 0, -2.0), Seq(0, 0, 1.0, 0.25), Seq(0, 0, 0, 1.0)))
    val frames = (Seq(0, 1, 2, 64, 65, 90).map(n => frame(s"n$n", boxes(n), tilted)) ++
      Seq(frame("no_extr", boxes(5), extr = None), frame("ident", boxes(4)))).toDF()
    for (cameraFrame <- Seq(false, true)) {
      val inRow = QaTasks.boxPairs(frames, cameraFrame)
      val got = pairRows(inRow, cameraFrame)
      assert(got == pairRows(joinPairs(frames, cameraFrame), cameraFrame), s"cameraFrame=$cameraFrame")
      // 1 + 2016 + 2016 + 2016 pairs, + 10 (no extrinsics) + 6
      assert(got.size == (if (cameraFrame) 6055 else 6065))
      // no self-join: the plan joins nothing and shuffles nothing
      val plan = inRow.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    }
  }

  test("in-row box pairs stay inside each frame when two frames share an image_id") {
    // the self-join paired boxes across the two frames; the reference's
    // per-document loop, and the in-row pairs, do not
    val frames = Seq(
      frame("dup", Seq(box("a", 0, 0, 2), box("b", 1, 0, 2), box("c", 2, 0, 2))),
      frame("dup", Seq(box("d", 0, 0, 5), box("e", 3, 0, 5)))).toDF()
    def cats(df: DataFrame): Seq[(Int, Int, String, String)] =
      df.selectExpr("i", "j", "b1.category", "b2.category").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3))).toSeq.sorted
    for (cameraFrame <- Seq(false, true)) {
      assert(cats(QaTasks.boxPairs(frames, cameraFrame)) ==
        Seq((0, 1, "a", "b"), (0, 1, "d", "e"), (0, 2, "a", "c"), (1, 2, "b", "c")))
      // the former join: 3 + 1 in-frame pairs and 4 across the frames
      assert(cats(joinPairs(frames, cameraFrame)).size == 8)
    }
  }

  test("two frames that share an image_id get the same ids at any bounds count and input order") {
    import org.apache.spark.sql.functions.col
    val b2 = Seq(Bbox2D(0, 0, 40, 30, None, "cup"), Bbox2D(5, 5, 20, 20, None, "cup"), Bbox2D(9, 9, 50, 60, None, "pen"))
    def withSource(f: FrameRecord, file: String, boxes2d: Seq[Bbox2D] = b2) = (f.copy(bounding_boxes_2d = boxes2d), file)
    // two frames "dup" from different files (same scene and frame ids), and
    // six other frames, so that four buckets split the image_ids
    val tagged = Seq(
      withSource(frame("dup", Seq(box("a", 0, 0, 2), box("b", 1, 0, 2), box("a", 2, 0, 2))), "x/f1.json"),
      withSource(frame("dup", Seq(box("d", 0, 0, 5), box("e", 3, 0, 5), box("d", 1, 1, 4))), "y/f1.json",
        b2.reverse)) ++
      (1 to 6).map(k => withSource(frame(s"img_$k", Seq(box("c", k, 0, 2), box("f", 0, k, 3), box("c", 1, 1, 1))), s"z/$k.json"))
    def frames(order: Seq[(FrameRecord, String)]): DataFrame =
      order.toDF("f", "_source_file").select(col("f.*"), col("_source_file"))
    def run(order: Seq[(FrameRecord, String)], buckets: Int): Seq[String] = {
      val fs = frames(order)
      val bounds = RangeBuckets.sampleBounds(fs, Seq(col("image_id")), buckets, "qa id bounds")
      assert(bounds.buckets == buckets)
      QaPipeline.taskRegistry.toSeq.sortBy(_._1).flatMap { case (name, task) =>
        val out = task(fs, "testds", bounds)
        try out.collect().map(r => s"$name $r").toSeq finally RangeBuckets.release(out)
      }
    }
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false") // every bucket is read on its own
    try {
      val one = run(tagged, 1)
      val four = run(tagged.reverse, 4)
      assert(one.sorted == four.sorted)
      // both frames have their rows
      val dup = one.filter(r => r.startsWith("obj_obj_distance") && r.contains("image_id -> dup"))
      assert(dup.exists(_.contains("x/f1.json")) && dup.exists(_.contains("y/f1.json")), dup)
    } finally spark.conf.set(coalesce, was)
  }

  test("cameraPositionCol equals Geo.cameraPosition on null, 3×4, 4×3 and 4×4 extrinsics") {
    val e4 = Seq(Seq(1.0, 0, 0, 10), Seq(0, 1.0, 0, -20.5), Seq(0, 0, 1.0, 30.25), Seq(0, 0, 0, 1.0))
    val cases: Seq[Option[Seq[Seq[Double]]]] = Seq(None, Some(e4.take(3)), Some(e4.map(_.take(3))), Some(e4))
    val got = cases.toDF("e").select(GeoFunctions.cameraPositionCol(org.apache.spark.sql.functions.col("e")))
      .collect().map(r => Option(r.getSeq[Double](0))).toSeq
    val want = cases.map(e => Geo.cameraPosition(e.map(_.map(_.toArray).toArray).orNull).map(_.toSeq))
    assert(got == want)
    assert(want.count(_.nonEmpty) == 1)
  }

  test("the geometry columns equal their Geo scalars") {
    import org.apache.spark.sql.functions.col
    import graft.functions.{boxVertices, cameraToBoxDistance, minBoxDistance}
    val cases = Seq(
      (Seq(0.0, 0, 5, 1, 1, 1, 0, 0, 0), Seq(3.0, 0, 5, 1, 2, 1, 30, 0, 0), Seq(0.5, -1.0, 0.25), "class_84", 540.0),
      (Seq(-2.0, 1, 4, 0.5, 1, 2, 0, 45, 10), Seq(1.0, 1, 6, 2, 1, 1, 0, 0, 90), Seq(0.0, 0, 0), "chair", -90.0),
      (Seq(1.0, -3, 2, 3, 0.2, 1, -60, 10, 0), Seq(1.5, -2.5, 2.5, 1, 1, 1, 0, 0, 0), Seq(9.0, 9, 9), "class_x", 45.5))
    val got = cases.toDF("a", "b", "cam", "cat", "deg").select(
        minBoxDistance(boxVertices(col("a")), boxVertices(col("b"))),
        cameraToBoxDistance(col("cam"), boxVertices(col("a"))),
        GeoFunctions.centerDistanceCol(col("a")(0), col("a")(1), col("a")(2)),
        GeoFunctions.normalizeAngleCol(col("deg")),
        GeoFunctions.parseClassCategoryCol(col("cat")))
      .collect().map(r => (Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)), r.getString(4))).toSeq
    def verts(f: Seq[Double]) = Geo.bboxVertices(f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7), f(8))
    val want = cases.map { case (a, b, cam, cat, deg) =>
      (Seq(Geo.minDistanceBetweenBoxes(verts(a), verts(b)), Geo.distanceCameraToBox(cam.toArray, verts(a)),
        Geo.centerDistance(a(0), a(1), a(2)), Geo.normalizeAngle(deg)), Geo.parseClassCategory(cat))
    }
    got.zip(want).foreach { case ((g, gCat), (w, wCat)) =>
      assert(g.zip(w).forall { case (x, y) => math.abs(x - y) < 1e-9 }, s"$g vs $w")
      assert(gCat == wCat)
    }
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
    // error under the default policy. The map is built in the routed map
    // stage, which withContiguousIds itself runs, and inside a lambda: Spark
    // evaluates that without generated code, so the policy is read from the
    // task's SQL conf, not captured on the driver
    val dupMap = map(lit("k"), col("id"), lit("k"), col("id") + 1)
    val df = spark.range(0, 200, 1, 4)
      .select(col("id"), element_at(transform(array(lit(0)), _ => dupMap), 1).as("m"))
    def numbered(): Seq[(String, Long)] = {
      val bounds = RangeBuckets.sampleBounds(df, Seq(col("id")), 4, "qa id bounds")
      val out = RangeBuckets.withContiguousIds(df, "qid", "q%03d", Seq(col("id")), bounds)
      try out.select(col("qid"), col("m")("k")).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      finally RangeBuckets.release(out)
    }
    val expected = (0 until 200).map(i => (f"q$i%03d", i + 1L))
    assert(numbered() == expected)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try assert(pool.submit[Seq[(String, Long)]](() => numbered()).get() == expected)
    finally pool.shutdown()
  }
}
