package graft.vlm

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** Raw-source readers on temp-dir fixtures shaped like the native formats. */
class RawSourcesSpec extends SparkSpec {

  private def tmp(): Path = tempDir("graft-raw")

  test("readCoco splits one labels.json into three tables; cocoToFrames joins them (S3/J4)") {
    val dir = tmp()
    val json =
      """{"images": [
        |   {"id": 1, "file_name": "a.jpg", "width": 640, "height": 480},
        |   {"id": 2, "file_name": "b.jpg", "width": 320, "height": 240}],
        | "annotations": [
        |   {"id": 10, "image_id": 1, "category_id": 5, "bbox": [10, 20, 30, 40], "area": 1200.0, "iscrowd": 0},
        |   {"id": 11, "image_id": 1, "category_id": 7, "bbox": [1, 2, 3, 4], "area": 12.0, "iscrowd": 0}],
        | "categories": [
        |   {"id": 5, "name": "chair"}, {"id": 7, "name": "table"}]}""".stripMargin
    Files.writeString(dir.resolve("labels.json"), json)

    val t = RawSources.readCoco(spark, dir.resolve("labels.json").toString)
    assert(t.images.count() == 2 && t.annotations.count() == 2 && t.categories.count() == 2)

    val frames = RawSources.cocoToFrames(t).orderBy("image_id").collect()
    assert(frames.length == 2)
    val f1 = frames.head
    assert(f1.getAs[String]("image_id") == "1")
    val boxes = f1.getSeq[org.apache.spark.sql.Row](f1.fieldIndex("bounding_boxes_2d"))
    assert(boxes.map(_.getAs[String]("category")).sorted == Seq("chair", "table"))
    val cam = f1.getStruct(f1.fieldIndex("camera"))
    assert(cam.getAs[Double]("fx") == 640 * 0.7 && cam.getAs[Int]("image_width") == 640)
    // image 2 has no annotations: empty bbox list, frame kept (left join)
    assert(frames(1).getSeq[org.apache.spark.sql.Row](frames(1).fieldIndex("bounding_boxes_2d")).isEmpty)
  }

  test("readIntrinsics parses %-commented whitespace matrices (S4)") {
    val dir = tmp()
    Files.writeString(dir.resolve("intrinsics.txt"),
      "% camera intrinsics\n529.5 0 365.0\n0 529.5 265.0\n0 0 1\n")
    val r = RawSources.readIntrinsics(spark, dir.resolve("intrinsics.txt").toString).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Double]("fx") == 529.5 && row.getAs[Double]("fy") == 529.5)
    assert(row.getAs[Double]("cx") == 365.0 && row.getAs[Double]("cy") == 265.0)
  }

  test("readExtrinsics picks the last timestamped file and pads 3x4 to 4x4 (S5)") {
    val dir = tmp()
    // earlier timestamp: identity-ish; later timestamp: the one that must win
    Files.writeString(dir.resolve("20140101.txt"),
      "1 0 0 0\n0 1 0 0\n0 0 1 0\n")
    Files.writeString(dir.resolve("20150101.txt"),
      "0 0 1 5\n1 0 0 6\n0 1 0 7\n")
    val r = RawSources.readExtrinsics(spark, dir.toString).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("file").endsWith("20150101.txt"))
    val m = r.head.getSeq[scala.collection.Seq[Double]](r.head.fieldIndex("extrinsics"))
    assert(m.length == 4)
    assert(m(0) == Seq(0.0, 0.0, 1.0, 5.0))
    assert(m(3) == Seq(0.0, 0.0, 0.0, 1.0)) // padded bottom row
  }

  test("readSunrgbdAnnotations keeps rectangle 4-point polygons and recovers axis-aligned boxes (S6/F9)") {
    val dir = tmp()
    val json =
      """{"objects": [
        |  {"name": "chair:occluded", "polygon": [
        |    {"rectangle": true, "X": [0, 2, 2, 0], "Z": [1, 1, 3, 3], "Ymin": -1, "Ymax": 1}]},
        |  {"name": "wall", "polygon": [
        |    {"rectangle": false, "X": [0, 1, 2], "Z": [0, 1, 2], "Ymin": 0, "Ymax": 2}]},
        |  {"name": "table", "polygon": [
        |    {"rectangle": true, "X": [0, 1, 2], "Z": [0, 1, 2], "Ymin": 0, "Ymax": 2}]},
        |  null]}""".stripMargin
    Files.writeString(dir.resolve("index.json"), json)
    val rows = RawSources.readSunrgbdAnnotations(spark, dir.resolve("index.json").toString).collect()
    // only the rectangle with 4 X/Z points survives; modifiers stripped
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("category") == "chair")
    assert(r.getAs[Double]("x") == 1.0 && r.getAs[Double]("y") == 0.0 && r.getAs[Double]("z") == 2.0)
    assert(r.getAs[Double]("xl") == 2.0 && r.getAs[Double]("yl") == 2.0 && r.getAs[Double]("zl") == 2.0)
    assert(r.getAs[Double]("yaw") == 0.0)
  }

  test("normalizeBoxes2d reads all three raw encodings (G11, geometry.py:272-335)") {
    val s = spark
    import s.implicits._
    // Taskonomy corners
    val t = Seq((1, Seq((0.0, 1.0, 10.0, 21.0, 17.0, "chair")))).toDF("id", "bounding_boxes_2d")
      .select(col("id"), transform(col("bounding_boxes_2d"), b => struct(
        b.getField("_1").as("x_min"), b.getField("_2").as("y_min"),
        b.getField("_3").as("x_max"), b.getField("_4").as("y_max"),
        b.getField("_5").as("area"), b.getField("_6").as("category"))).as("bounding_boxes_2d"))
    val tn = RawSources.normalizeBoxes2d(t).select(explode(col("bounding_boxes_2d"))).select("col.*").collect().head
    assert(tn.getAs[Double]("x") == 0.0 && tn.getAs[Double]("w") == 10.0 && tn.getAs[Double]("h") == 20.0)
    assert(tn.getAs[Double]("area") == 17.0) // stored area wins

    // COCO nested
    val c = Seq((1, Seq((5.0, 6.0, 7.0, 8.0, "dog")))).toDF("id", "raw")
      .select(col("id"), transform(col("raw"), b => struct(
        struct(b.getField("_1").as("x"), b.getField("_2").as("y"),
          b.getField("_3").as("width"), b.getField("_4").as("height")).as("bbox_2d"),
        b.getField("_5").as("category"))).as("bounding_boxes_2d"))
    val cn = RawSources.normalizeBoxes2d(c).select(explode(col("bounding_boxes_2d"))).select("col.*").collect().head
    assert(cn.getAs[Double]("x") == 5.0 && cn.getAs[Double]("w") == 7.0 && cn.getAs[Double]("area") == 56.0)

    // direct x/y/w/h
    val d = Seq((1, Seq((1.0, 2.0, 3.0, 4.0, "cat")))).toDF("id", "raw")
      .select(col("id"), transform(col("raw"), b => struct(
        b.getField("_1").as("x"), b.getField("_2").as("y"),
        b.getField("_3").as("w"), b.getField("_4").as("h"),
        b.getField("_5").as("category"))).as("bounding_boxes_2d"))
    val dn = RawSources.normalizeBoxes2d(d).select(explode(col("bounding_boxes_2d"))).select("col.*").collect().head
    assert(dn.getAs[Double]("w") == 3.0 && dn.getAs[Double]("area") == 12.0 && dn.getAs[String]("category") == "cat")
  }

  test("sunrgbdToFrames composes S4+S5+S6+S11 into unified frames (F15; sunrgbd_processor.py:130-248)") {
    val root = tmp()
    val scene = root.resolve("kv1/NYUdata/scene_0001")
    Files.createDirectories(scene.resolve("extrinsics"))
    Files.createDirectories(scene.resolve("annotation3Dfinal"))
    Files.createDirectories(scene.resolve("depth"))
    Files.writeString(scene.resolve("intrinsics.txt"),
      "% camera intrinsics\n520.0 0 320.0\n0 521.0 240.0\n0 0 1\n")
    Files.writeString(scene.resolve("extrinsics").resolve("20150101.txt"),
      "1 0 0 2\n0 1 0 3\n0 0 1 4\n")
    Files.writeString(scene.resolve("annotation3Dfinal").resolve("index.json"),
      """{"objects": [
        |  {"name": "bed:occluded", "polygon": [
        |    {"rectangle": true, "X": [0, 2, 2, 0], "Z": [1, 1, 3, 3], "Ymin": -1, "Ymax": 1}]},
        |  {"name": "wall", "polygon": [
        |    {"rectangle": false, "X": [0, 1, 2], "Z": [0, 1, 2], "Ymin": 0, "Ymax": 2}]}]}""".stripMargin)
    // 16-bit PNG depth: 1000mm, 3000mm
    val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    img.getRaster.setSample(0, 0, 0, 1000)
    img.getRaster.setSample(1, 0, 0, 3000)
    javax.imageio.ImageIO.write(img, "png", scene.resolve("depth").resolve("d.png").toFile)
    // a second scene missing intrinsics: must be skipped by the inner join
    val bad = root.resolve("kv1/NYUdata/scene_0002")
    Files.createDirectories(bad.resolve("depth"))
    javax.imageio.ImageIO.write(img, "png", bad.resolve("depth").resolve("d.png").toFile)

    val framesDf = RawSources.sunrgbdToFrames(spark, root.toString)
    // F15 contract: conforms to the canonical schema and stays collectable
    assert(FrameSchema.conform(framesDf).count() == 1)
    val frames = framesDf.collect()
    assert(frames.length == 1)
    val f = frames.head
    assert(f.getAs[String]("dataset") == "sunrgbd")
    assert(f.getAs[String]("split") == "kv1_NYUdata")
    assert(f.getAs[String]("image_id") == "scene_0001")
    assert(f.getAs[String]("depth_type") == "depth_png_mm")
    val cam = f.getStruct(f.fieldIndex("camera"))
    assert(cam.getAs[Double]("fx") == 520.0 && cam.getAs[Double]("cy") == 240.0)
    assert(cam.getAs[Int]("image_width") == 640) // reference 640x480 fallback
    val ex = cam.getSeq[scala.collection.Seq[Double]](cam.fieldIndex("extrinsics"))
    assert(ex(0) == Seq(1.0, 0.0, 0.0, 2.0) && ex(3) == Seq(0.0, 0.0, 0.0, 1.0))
    val ds = f.getStruct(f.fieldIndex("depth_stats"))
    assert(ds.getAs[Long]("valid_pixels") == 2 && ds.getAs[Double]("mean") == 2.0)
    val boxes = f.getSeq[org.apache.spark.sql.Row](f.fieldIndex("bounding_boxes_3d"))
    assert(boxes.length == 1) // non-rectangle polygon dropped (F9)
    val b = boxes.head
    assert(b.getAs[String]("category") == "bed") // :occluded stripped
    assert(b.getAs[Double]("x") == 1.0 && b.getAs[Double]("z") == 2.0 && b.getAs[Double]("y") == 0.0)
    assert(b.getAs[Double]("xl") == 2.0 && b.getAs[Double]("zl") == 2.0 && b.getAs[Double]("yl") == 2.0)
  }

  test("coalesceBoxes2d resolves mixed encodings PER ROW with reference precedence (G11; geometry.py:272-296)") {
    // one corpus, one schema, four rows: direct, sub-dict, COCO list, none
    val json =
      """[{"id": 1, "bounding_boxes_2d": [{"x": 1, "y": 2, "w": 3, "h": 4}]},
        | {"id": 2, "bounding_boxes_2d": [{"bbox_2d": {"x": 5, "y": 6, "width": 7, "height": 8}}]},
        | {"id": 3, "bounding_boxes_2d": [{"bbox": [9, 10, 11, 12], "category": "cat"}]},
        | {"id": 4, "bounding_boxes_2d": [{"area": 42.0}]}]""".stripMargin
    val dir = tmp()
    Files.writeString(dir.resolve("mixed.json"), json)
    val df = spark.read.option("multiLine", true).json(dir.resolve("mixed.json").toString)
    val out = RawSources.coalesceBoxes2d(df)
      .select(col("id"), explode(col("bounding_boxes_2d")).as("b"))
      .select("id", "b.*").orderBy("id").collect()
    assert(out(0).getAs[Double]("x") == 1.0 && out(0).getAs[Double]("area") == 12.0)
    assert(out(1).getAs[Double]("x") == 5.0 && out(1).getAs[Double]("w") == 7.0)
    assert(out(2).getAs[Double]("x") == 9.0 && out(2).getAs[Double]("h") == 12.0)
    assert(out(2).getAs[String]("category") == "cat")
    // no geometric encoding: area passes through, coords null (:330-333)
    assert(out(3).isNullAt(out(3).fieldIndex("x")) && out(3).getAs[Double]("area") == 42.0)
    // direct fields win over the list when BOTH are present in one row
    val both =
      """[{"id": 1, "bounding_boxes_2d": [{"x": 1, "y": 1, "w": 1, "h": 1, "bbox": [9, 9, 9, 9]}]}]"""
    Files.writeString(dir.resolve("both.json"), both)
    val b = RawSources.coalesceBoxes2d(
      spark.read.option("multiLine", true).json(dir.resolve("both.json").toString))
      .select(explode(col("bounding_boxes_2d")).as("b")).select("b.*").collect().head
    assert(b.getAs[Double]("x") == 1.0)
  }

  test("withPathPartitions extracts partition columns from paths (S12)") {
    val dir = tmp()
    val sub = dir.resolve("kv1/NYU0001")
    Files.createDirectories(sub)
    Files.writeString(sub.resolve("frame.json"), """{"x": 1}""")
    val df = spark.read.json(dir.toString + "/*/*/*.json")
    val out = RawSources.withPathPartitions(df, ".*/([^/]+)/([^/]+)/[^/]+\\.json$", Seq("sensor", "scene"))
    val row = out.select("sensor", "scene").collect().head
    assert(row.getString(0) == "kv1" && row.getString(1) == "NYU0001")
  }
}
