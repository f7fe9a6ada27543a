package graft.vlm

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.apache.spark.sql.graft.shims

/** End-to-end: write a unified-JSON mini-corpus to disk, ingest with the
  * declared schema (S1), run the full pipeline (K2–K4), read outputs back.
  */
class PipelineSpec extends SparkSpec {

  test("corrupt documents: audit counts them per file, strict mode fails loudly") {
    val dir = Files.createTempDirectory("graft_corrupt").toString
    val sceneDir = new java.io.File(s"$dir/ds/scene0"); sceneDir.mkdirs()
    Files.writeString(new java.io.File(sceneDir, "good.json").toPath,
      """{"dataset":"ds","split":"s0","image_id":"ok","scene_id":"scene0","bounding_boxes_2d":[],"bounding_boxes_3d":[]}""")
    Files.writeString(new java.io.File(sceneDir, "bad.json").toPath,
      """{"dataset":"ds","split":"s0","image_id":"truncated""")
    // well-formed JSON, type-corrupt in a field (timestamp is LongType)
    // that the audit's counting aggregates never touch: only a full-schema
    // parse flags it — a column-pruned audit would report 0 corrupt rows
    Files.writeString(new java.io.File(sceneDir, "badfield.json").toPath,
      """{"dataset":"ds","split":"s0","image_id":"typo","scene_id":"scene0","bounding_boxes_2d":[],"bounding_boxes_3d":[],"timestamp":"not-a-long"}""")
    // truncated-to-empty: zero parsed rows, zero corrupt rows — only the
    // listing side of the audit can see it
    Files.writeString(new java.io.File(sceneDir, "empty.json").toPath, "")
    // multi-line, as the reference's json.dump writes it: every line is
    // malformed under the line-delimited reader, and the path exclusion
    // must shield it from strict mode
    Files.writeString(new java.io.File(sceneDir, "summary.json").toPath,
      "{\n  \"not\": \"a frame\"\n}")

    // PERMISSIVE default would hand downstream a silent null row for
    // bad.json; the audit makes both it and the lost empty file visible
    val audit = Ingest.auditFrames(spark, dir)
      .collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(audit.collectFirst { case ("bad.json", _, rows, corrupt) => (rows, corrupt) }
      .contains((1L, 1L)))
    assert(audit.collectFirst { case ("good.json", _, rows, corrupt) => (rows, corrupt) }
      .contains((1L, 0L)))
    assert(audit.collectFirst { case ("badfield.json", _, rows, corrupt) => (rows, corrupt) }
      .contains((1L, 1L)), "full-schema audit must flag type corruption in unprojected fields")
    assert(audit.collectFirst { case ("empty.json", bytes, rows, _) => (bytes, rows) }
      .contains((0L, 0L)), "zero-record files must appear in the audit")
    assert(audit.forall(_._1 != "summary.json"))

    // strict mode refuses the corpus outright (raise_error surfaces as
    // SparkRuntimeException or job-wrapped SparkException depending on
    // where the task fails — the contract is the loud malformed message)
    val e = intercept[Exception](Ingest.readFramesStrict(spark, dir).count())
    assert(msgs(e).exists(_.toLowerCase.contains("malformed")), msgs(e).mkString(" | "))

    // ...accepts it once the corrupt file is quarantined (the multi-line
    // summary.json and the empty file must NOT trip the strict check), and
    // matches readFrames' schema
    new java.io.File(sceneDir, "bad.json").delete()
    val strict = Ingest.readFramesStrict(spark, dir)
    // 2 rows = good + badfield: strict's documented scope is per-REFERENCED-
    // field — count() never parses timestamp, so badfield.json's type
    // corruption is invisible to this plan (the audit above is the
    // full-schema gate)...
    assert(strict.count() == 2)
    // ...but any plan that actually reads the corrupt field fails loudly
    // (collect, not count — count prunes the projection away entirely)
    val e2 = intercept[Exception](
      Ingest.readFramesStrict(spark, dir).select("image_id", "timestamp").collect())
    assert(msgs(e2).exists(_.toLowerCase.contains("malformed")), msgs(e2).mkString(" | "))
    assert(strict.columns.toSeq == Ingest.readFrames(spark, dir).columns.toSeq)
    assert(Ingest.readFramesStrict(spark, dir, limit = Some(0)).count() == 0)
  }

  /** Two frame docs in nested per-scene dirs + a summary.json to exclude;
    * returns the corpus root.
    */
  private def writeCorpus(): String = {
    val dir = Files.createTempDirectory("graft_corpus").toString
    val sceneDir = new java.io.File(s"$dir/testds/scene0"); sceneDir.mkdirs()
    def doc(imageId: String, boxes: String): String =
      s"""{"dataset":"testds","split":"s0","image_id":"$imageId","scene_id":"scene0",
         |"depth_type":"none",
         |"camera":{"fx":500,"fy":500,"cx":320,"cy":240,"image_width":640,"image_height":480,
         |  "intrinsics":[[500,0,320],[0,500,240],[0,0,1]],
         |  "extrinsics":[[1,0,0,0],[0,1,0,0],[0,0,1,0],[0,0,0,1]]},
         |"bounding_boxes_2d":[],
         |"bounding_boxes_3d":[$boxes]}""".stripMargin.replace("\n", "")
    def b3d(cat: String, x: Double, z: Double): String =
      s"""{"x":$x,"y":0.5,"z":$z,"xl":1,"yl":1,"zl":1,"pitch":0,"yaw":0,"roll":0,"category":"$cat"}"""
    Files.writeString(new java.io.File(sceneDir, "f1.json").toPath,
      doc("f1", s"${b3d("chair", 0, 3)},${b3d("chair", 2, 3)},${b3d("desk", -2, 5)}"))
    Files.writeString(new java.io.File(sceneDir, "f2.json").toPath,
      doc("f2", s"${b3d("sofa", 0, 2)}"))
    Files.writeString(new java.io.File(sceneDir, "summary.json").toPath, """{"not":"a frame"}""")
    dir
  }

  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  test("ingest → generate → sinks round trip") {
    val dir = writeCorpus()
    val out = Files.createTempDirectory("graft_qa").toString
    val frames = Ingest.readFrames(spark, dir)
    assert(frames.count() == 2) // summary.json excluded
    assert(frames.columns.contains("_source_file"))

    val counts = QaPipeline.run(spark, frames, "testds", out)
    assert(counts("object_count") == 2)
    assert(counts("object_3d_size") == 3) // chair+desk, sofa
    assert(counts("obj_obj_distance") >= 1)

    // combined output has every task's rows tagged
    val combined = spark.read.json(s"$out/testds_all_qa_pairs")
    assert(combined.count() == counts.values.sum)
    // summary matches
    val summary = spark.read.json(s"$out/testds_summary").collect()
    assert(summary.map(_.getAs[Long]("total_questions")).sum == counts.values.sum)

    // the concurrent run wrote, ids included, what serial generate returns,
    // and the combined output holds each task's rows unchanged
    QaPipeline.generate(frames, "testds").foreach { case (t, df) =>
      def sorted(rows: Array[Row]) = rows.sortBy(_.getString(0)).toSeq
      val expected = sorted(df.collect())
      QaPrimitives.release(df)
      val written = sorted(spark.read.schema(df.schema).json(s"$out/testds_${t}_qa").collect())
      assert(written == expected, t)
      val inCombined = spark.read.schema(df.schema.add("task_type", "string"))
        .json(s"$out/testds_all_qa_pairs").filter(col("task_type") === t).drop("task_type").collect()
      assert(sorted(inCombined) == written, t)
    }

    // K1: partitioned snapshot write round-trips
    val snap = Files.createTempDirectory("graft_snap").toString
    Ingest.writeFrames(frames, snap)
    val back = Ingest.readFrames(spark, snap)
    assert(back.count() == 2)
  }

  test("run releases the rows it stores, and on a task failure stops its jobs and rethrows") {
    val sc = spark.sparkContext
    val frames = Ingest.readFrames(spark, writeCorpus())
    // someone else's stored RDD, which run must leave alone
    val canary = sc.parallelize(1 to 4).persist()
    canary.count()
    val before = sc.getPersistentRDDs.keySet
    QaPipeline.run(spark, frames, "testds", Files.createTempDirectory("graft_qa").toString)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)

    // the 2D boxes raise an error: object_count_2d fails, the 3D tasks do not
    val boxes2d = frames.schema("bounding_boxes_2d").dataType
    val broken = frames.withColumn("bounding_boxes_2d", raise_error(lit("boom2d")).cast(boxes2d))
    val e = intercept[Exception](QaPipeline.run(spark, broken, "testds",
      Files.createTempDirectory("graft_qa").toString, Seq("object_count", "obj_obj_distance", "object_count_2d")))
    assert(msgs(e).exists(_.contains("boom2d")), msgs(e).mkString(" | "))
    shims.waitListenerBus(spark) // the status tracker reads listener events
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(sc.getPersistentRDDs.contains(canary.id))
    canary.unpersist()
  }

  test("limit and bbox-availability gate (F1/F17)") {
    val dir = Files.createTempDirectory("graft_corpus2").toString
    val d = new java.io.File(dir); d.mkdirs()
    Files.writeString(new java.io.File(d, "empty.json").toPath,
      """{"dataset":"t","split":"s","image_id":"e1","depth_type":"none",
        |"camera":{"fx":1,"fy":1,"cx":0,"cy":0,"image_width":10,"image_height":10,"intrinsics":[],"extrinsics":null},
        |"bounding_boxes_2d":[],"bounding_boxes_3d":[]}""".stripMargin.replace("\n", ""))
    val frames = Ingest.readFrames(spark, dir)
    assert(frames.count() == 1)
    assert(Ingest.withUsableBoxes(frames).count() == 0)
    assert(Ingest.readFrames(spark, dir, limit = Some(0)).count() == 0)
  }
}
