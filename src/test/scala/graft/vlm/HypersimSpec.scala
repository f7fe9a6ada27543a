package graft.vlm

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row

/** Hypersim all-HDF5 scene tree → unified frames (F15/S7). */
class HypersimSpec extends SparkSpec {

  private def writeH5(path: Path, dims: Seq[Long], vals: Seq[Float]): Unit =
    Files.write(path, Hdf5Fixtures.makeHdf5(
      "dataset", dims, 4, dtClass = 1, compact = false, nElems = vals.length) {
      (b, i) => b.putFloat(vals(i))
    })

  /** Scene "ai_001": camera cam_00 with keyframes at frames 0 and 10,
    * boxes 0 (valid, 90° roll) and 1 (inf → dropped), frames 0000
    * (depth + semantic) and 0004 (depth only).
    */
  private def fixture(): Path = {
    val root = tempDir("graft-hypersim")
    val detail = root.resolve("ai_001/_detail")
    val cam = detail.resolve("cam_00")
    val mesh = detail.resolve("mesh")
    val geo = root.resolve("ai_001/images/scene_cam_00_geometry_hdf5")
    Seq(cam, mesh, geo).foreach(Files.createDirectories(_))

    writeH5(cam.resolve("camera_keyframe_frame_indices.hdf5"), Seq(2L), Seq(0f, 10f))
    writeH5(cam.resolve("camera_keyframe_positions.hdf5"), Seq(2L, 3L),
      Seq(1f, 2f, 3f, 4f, 5f, 6f))
    writeH5(cam.resolve("camera_keyframe_orientations.hdf5"), Seq(2L, 3L, 3L),
      Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f, // kf0: identity
        1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f))  // kf1: identity

    writeH5(mesh.resolve("metadata_semantic_instance_bounding_box_object_aligned_2d_positions.hdf5"),
      Seq(2L, 3L), Seq(1f, 2f, -2f, Float.PositiveInfinity, 0f, 0f))
    writeH5(mesh.resolve("metadata_semantic_instance_bounding_box_object_aligned_2d_extents.hdf5"),
      Seq(2L, 3L), Seq(2f, 3f, 4f, 1f, 1f, 1f))
    writeH5(mesh.resolve("metadata_semantic_instance_bounding_box_object_aligned_2d_orientations.hdf5"),
      Seq(2L, 3L, 3L),
      Seq(0f, -1f, 0f, 1f, 0f, 0f, 0f, 0f, 1f, // box0: 90° about Z
        1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f))
    Files.writeString(detail.resolve("metadata_nodes.csv"),
      "node_id,node_name,object_name,object_id\n0,n0,chair,o0\n1,n1,table,o1\n")

    // frame 0000: depth (2×2, one invalid 0) + semantic instances {0, 5}
    writeH5(geo.resolve("frame.0000.depth_meters.hdf5"), Seq(2L, 2L), Seq(1f, 2f, 3f, 0f))
    writeH5(geo.resolve("frame.0000.semantic_instance.hdf5"), Seq(2L, 2L), Seq(0f, 0f, 5f, 0f))
    // frame 0004: depth only (no semantic file)
    writeH5(geo.resolve("frame.0004.depth_meters.hdf5"), Seq(2L, 2L), Seq(2f, 2f, 2f, 2f))
    root
  }

  test("hypersimFrames: keyframe poses, world->camera boxes, depth stats (F15; hypersim_processor.py)") {
    val root = fixture()
    val framesDf = HypersimSources.hypersimFrames(spark, root.toString)
    // F15 contract: conforms to the canonical schema and stays collectable
    assert(FrameSchema.conform(framesDf).count() == 2)
    val frames = framesDf.orderBy("image_id").collect()
    assert(frames.length == 2)

    val f0 = frames(0)
    assert(f0.getAs[String]("image_id") == "ai_001_cam_00_frame_0000")
    assert(f0.getAs[String]("depth_type") == "depth_hdf5_meters")
    val cam = f0.getStruct(f0.fieldIndex("camera"))
    assert(cam.getAs[Double]("fx") == 1.0 && cam.getAs[Double]("cx") == 1.0) // w/2 for w=2
    // frame 0 matches keyframe 0 exactly: extrinsics t = (1, 2, 3)
    val ex = cam.getSeq[scala.collection.Seq[Double]](cam.fieldIndex("extrinsics"))
    assert(ex(0)(3) == 1.0 && ex(1)(3) == 2.0 && ex(2)(3) == 3.0)
    val ds = f0.getStruct(f0.fieldIndex("depth_stats"))
    assert(ds.getAs[Long]("valid_pixels") == 3 && ds.getAs[Long]("total_pixels") == 4)
    assert(ds.getAs[Double]("median") == 2.0)
    // visible = {0, 5}; only instance 0 has a box row; box 1 was inf-dropped
    val boxes = f0.getSeq[Row](f0.fieldIndex("bounding_boxes_3d"))
    assert(boxes.length == 1)
    val b = boxes.head
    assert(b.getAs[String]("category") == "chair")
    // world (1,2,-2) − t (1,2,3) = (0,0,−5) in OpenGL → CV flip → (0,0,5)
    assert(b.getAs[Double]("x") == 0.0 && b.getAs[Double]("y") == 0.0 && b.getAs[Double]("z") == 5.0)
    assert(b.getAs[Double]("xl") == 2.0 && b.getAs[Double]("yl") == 3.0 && b.getAs[Double]("zl") == 4.0)
    // 90°-about-Z orientation → ZYX roll = π/2 rad, through the reference's
    // degree-based normalizer: (π/2)/180
    assert(math.abs(b.getAs[Double]("roll") - (math.Pi / 2) / 180.0) < 1e-9)
    assert(b.getAs[Double]("pitch") == 0.0)

    // frame 4: nearest keyframe is kf0 (|0−4| < |10−4|); no semantic file →
    // empty box list; constant depth
    val f4 = frames(1)
    assert(f4.getAs[String]("image_id") == "ai_001_cam_00_frame_0004")
    val ex4 = f4.getStruct(f4.fieldIndex("camera"))
    assert(ex4.getSeq[scala.collection.Seq[Double]](ex4.fieldIndex("extrinsics"))(0)(3) == 1.0)
    assert(f4.getSeq[Row](f4.fieldIndex("bounding_boxes_3d")).isEmpty)
    assert(f4.getStruct(f4.fieldIndex("depth_stats")).getAs[Double]("mean") == 2.0)
  }

  test("sceneBoxes drops inf rows; nodeNames maps instance ids") {
    val root = fixture()
    val boxes = HypersimSources.sceneBoxes(spark, root.toString).collect()
    assert(boxes.length == 1 && boxes.head.getAs[Int]("instance_id") == 0)
    val names = HypersimSources.nodeNames(spark, root.toString)
      .orderBy("instance_id").collect()
    assert(names.map(_.getAs[String]("category")).toSeq == Seq("chair", "table"))
  }
}
