package graft.vlm

import java.awt.image.BufferedImage
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row

/** Taskonomy per-view processor: point_info camera + mask-derived boxes. */
class TaskonomySpec extends SparkSpec {

  private def writeGray(path: Path, w: Int, h: Int, sixteenBit: Boolean)(sample: (Int, Int) => Int): Unit = {
    val t = if (sixteenBit) BufferedImage.TYPE_USHORT_GRAY else BufferedImage.TYPE_BYTE_GRAY
    val img = new BufferedImage(w, h, t)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, sample(x, y))
    assert(javax.imageio.ImageIO.write(img, "png", path.toFile))
  }

  /** Location "loc_a", view point_0_view_0: 20×20 rasters; instance 1 =
    * 10×10 block with varying depth; semantic class 3 everywhere; camera at
    * (1,2,3) with zero rotation; resolution 20, fov = 2·atan(1/10) so
    * fx = 10·... chosen for fx = resolution/(2·tan(fov/2)).
    */
  private def fixture(): Path = {
    val root = tempDir("graft-taskonomy")
    val loc = "loc_a"
    val dirs = Seq("point_info", "segment_unsup25d", "segment_semantic", "depth_euclidean")
      .map(d => d -> root.resolve(s"$d/taskonomy/$loc")).toMap
    dirs.values.foreach(Files.createDirectories(_))
    val view = "point_0_view_0"

    // fov chosen so fx = 20 / (2·tan(fov/2)) = 100 → tan(fov/2) = 0.1
    val fov = 2 * math.atan(0.1)
    Files.writeString(dirs("point_info").resolve(s"${view}_domain_point_info.json"),
      s"""{"resolution": 20, "field_of_view_rads": $fov,
         |"camera_location": [1.0, 2.0, 3.0],
         |"camera_rotation_final": [0.0, 0.0, 0.0]}""".stripMargin)
    writeGray(dirs("segment_unsup25d").resolve(s"${view}_domain_segment_unsup25d.png"), 20, 20, sixteenBit = false) {
      (u, v) => if (u >= 2 && u <= 11 && v >= 3 && v <= 12) 1 else 0
    }
    writeGray(dirs("segment_semantic").resolve(s"${view}_domain_segmentsemantic.png"), 20, 20, sixteenBit = false) {
      (_, _) => 3
    }
    writeGray(dirs("depth_euclidean").resolve(s"${view}_domain_depth_euclidean.png"), 20, 20, sixteenBit = true) {
      (u, _) => 1000 + 100 * u
    }
    root
  }

  test("multi-location roots do not cross-match same-named views (viewKey carries the location)") {
    val root = tempDir("graft-taskonomy-multi")
    val fov = 2 * math.atan(0.1)
    for ((loc, mm) <- Seq(("loc_a", 1000), ("loc_b", 2000))) {
      val dirs = Seq("point_info", "segment_unsup25d", "depth_euclidean")
        .map(d => d -> root.resolve(s"$d/taskonomy/$loc")).toMap
      dirs.values.foreach(Files.createDirectories(_))
      Files.writeString(dirs("point_info").resolve("point_0_view_0_domain_point_info.json"),
        s"""{"resolution": 20, "field_of_view_rads": $fov,
           |"camera_location": [0.0, 0.0, 0.0],
           |"camera_rotation_final": [0.0, 0.0, 0.0]}""".stripMargin)
      writeGray(dirs("segment_unsup25d").resolve("point_0_view_0_domain_segment_unsup25d.png"),
        20, 20, sixteenBit = false)((u, v) => if (u >= 2 && u <= 11 && v >= 3 && v <= 12) 1 else 0)
      writeGray(dirs("depth_euclidean").resolve("point_0_view_0_domain_depth_euclidean.png"),
        20, 20, sixteenBit = true)((_, _) => mm)
    }
    val frames = TaskonomySources.taskonomyFrames(spark, root.toString)
      .orderBy("split").collect()
    assert(frames.length == 2)
    assert(frames(0).getAs[String]("image_id") == "loc_a_point_0_view_0")
    // each frame's depth stats come from its OWN location's raster
    assert(frames(0).getStruct(frames(0).fieldIndex("depth_stats")).getAs[Double]("mean") == 1.0)
    assert(frames(1).getStruct(frames(1).fieldIndex("depth_stats")).getAs[Double]("mean") == 2.0)
  }

  test("taskonomyFrames: point_info camera + paired 2D/3D mask boxes (F15; taskonomy_processor.py:239-412)") {
    val root = fixture()
    val framesDf = TaskonomySources.taskonomyFrames(
      spark, root.toString, semanticClasses = Seq("c0", "c1", "c2", "chair"))
    // F15 contract: conforms to the canonical schema and stays collectable
    assert(FrameSchema.conform(framesDf).count() == 1)
    val frames = framesDf.collect()
    assert(frames.length == 1)
    val f = frames.head
    assert(f.getAs[String]("dataset") == "taskonomy")
    assert(f.getAs[String]("split") == "loc_a")
    assert(f.getAs[String]("image_id") == "loc_a_point_0_view_0")
    assert(f.getAs[String]("filename") == "point_0_view_0_domain_rgb.png")

    val cam = f.getStruct(f.fieldIndex("camera"))
    assert(math.abs(cam.getAs[Double]("fx") - 100.0) < 1e-9) // res/(2·tan(fov/2))
    assert(cam.getAs[Double]("cx") == 10.0 && cam.getAs[Int]("image_width") == 20)
    val ex = cam.getSeq[scala.collection.Seq[Double]](cam.fieldIndex("extrinsics"))
    assert(ex(0) == Seq(1.0, 0.0, 0.0, 1.0) && ex(1)(3) == 2.0 && ex(2)(3) == 3.0)

    val ds = f.getStruct(f.fieldIndex("depth_stats"))
    assert(ds.getAs[Long]("total_pixels") == 400 && ds.getAs[Boolean]("present"))

    val b2 = f.getSeq[Row](f.fieldIndex("bounding_boxes_2d"))
    val b3 = f.getSeq[Row](f.fieldIndex("bounding_boxes_3d"))
    assert(b2.length == 1 && b3.length == 1)
    assert(b2.head.getAs[Int]("x_min") == 2 && b2.head.getAs[Int]("x_max") == 12)
    assert(b2.head.getAs[String]("category") == "chair_1") // dominant class 3 → "chair"
    assert(b3.head.getAs[String]("category") == "chair_1")
    // unprojection replay for the extents (same formula as MaskJobsSpec)
    val pts = for { v <- 3 to 12; u <- 2 to 11 } yield {
      val z = (1000 + 100 * u) / 1000.0
      ((u - 10.0) * z / 100.0, (v - 10.0) * z / 100.0, z)
    }
    assert(math.abs(b3.head.getAs[Double]("xl") - (pts.map(_._1).max - pts.map(_._1).min)) < 1e-9)
    assert(b3.head.getAs[Double]("zl") == pts.map(_._3).max - pts.map(_._3).min)
    assert(b3.head.getAs[Double]("pitch") == 0.0)
  }
}
