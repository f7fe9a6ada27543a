package graft.vlm

import java.awt.image.BufferedImage
import java.nio.file.{Files, Path}

/** Mask → per-instance aggregates → 2D/3D boxes (G16/G17). */
class MaskJobsSpec extends SparkSpec {

  private def writeGray(path: Path, w: Int, h: Int, sixteenBit: Boolean)(sample: (Int, Int) => Int): Unit = {
    val t = if (sixteenBit) BufferedImage.TYPE_USHORT_GRAY else BufferedImage.TYPE_BYTE_GRAY
    val img = new BufferedImage(w, h, t)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, sample(x, y))
    assert(javax.imageio.ImageIO.write(img, "png", path.toFile))
  }

  // fixture: 20×20 frame, instance 1 = 10×10 block at u∈[2,11] v∈[3,12]
  // with depth 1000+100·u mm; instance 2 = 2×2 noise block; semantic class
  // 3 everywhere
  private val (fx, fy, cx, cy) = (100.0, 100.0, 10.0, 10.0)
  private def inInst1(u: Int, v: Int) = u >= 2 && u <= 11 && v >= 3 && v <= 12
  private def inInst2(u: Int, v: Int) = u >= 15 && u <= 16 && v >= 15 && v <= 16

  private def fixtureDirs(): (Path, Path, Path) = {
    val root = tempDir("graft-mask")
    val (maskDir, depthDir, semDir) =
      (root.resolve("mask"), root.resolve("depth"), root.resolve("sem"))
    Seq(maskDir, depthDir, semDir).foreach(Files.createDirectories(_))
    writeGray(maskDir.resolve("f0.png"), 20, 20, sixteenBit = false) { (u, v) =>
      if (inInst1(u, v)) 1 else if (inInst2(u, v)) 2 else 0
    }
    writeGray(depthDir.resolve("f0.png"), 20, 20, sixteenBit = true) { (u, _) => 1000 + 100 * u }
    writeGray(semDir.resolve("f0.png"), 20, 20, sixteenBit = false) { (_, _) => 3 }
    (maskDir, depthDir, semDir)
  }

  /** Expected unprojected extents, replaying the reference formula. */
  private def expected3d(): (Double, Double, Double, Double, Double, Double) = {
    val pts = for { v <- 3 to 12; u <- 2 to 11 } yield {
      val z = (1000 + 100 * u) / 1000.0
      ((u - cx) * z / fx, (v - cy) * z / fy, z)
    }
    (pts.map(_._1).min, pts.map(_._1).max,
      pts.map(_._2).min, pts.map(_._2).max,
      pts.map(_._3).min, pts.map(_._3).max)
  }

  test("instanceAggregates: one decode pass -> per-instance extents + dominant class (G16/G17)") {
    val (maskDir, depthDir, semDir) = fixtureDirs()
    val aggs = MaskJobs.instanceAggregates(
      spark, maskDir.toString, Some(depthDir.toString), Some(semDir.toString), fx, fy, cx, cy)
      .orderBy("instance_id").collect()
    assert(aggs.length == 2)
    val a1 = aggs(0)
    assert(a1.getAs[Int]("instance_id") == 1 && a1.getAs[Long]("n_pixels") == 100)
    assert(a1.getAs[Int]("u_min") == 2 && a1.getAs[Int]("u_max") == 11)
    assert(a1.getAs[Long]("n_valid_depth") == 100)
    assert(a1.getAs[Int]("semantic_class") == 3)
    val (xmin, xmax, _, _, zmin, zmax) = expected3d()
    assert(math.abs(a1.getAs[Double]("x_min") - xmin) < 1e-9)
    assert(math.abs(a1.getAs[Double]("x_max") - xmax) < 1e-9)
    assert(a1.getAs[Double]("z_min") == zmin && a1.getAs[Double]("z_max") == zmax)
  }

  test("boxes2d: pixel-extent rects with the >5px noise gate (G17; taskonomy_processor.py:337-356)") {
    val (maskDir, depthDir, semDir) = fixtureDirs()
    val aggs = MaskJobs.instanceAggregates(
      spark, maskDir.toString, Some(depthDir.toString), Some(semDir.toString), fx, fy, cx, cy)
    val b2 = MaskJobs.boxes2d(aggs).collect()
    assert(b2.length == 1) // 2×2 instance gated out
    val b = b2.head
    assert(b.getAs[Int]("x_min") == 2 && b.getAs[Int]("x_max") == 12) // exclusive max
    assert(b.getAs[Int]("y_min") == 3 && b.getAs[Int]("y_max") == 13)
    assert(b.getAs[Int]("area") == 100)
  }

  test("boxes3d: unprojected axis-aligned boxes with point/dimension gates (G16; taskonomy_processor.py:148-216)") {
    val (maskDir, depthDir, semDir) = fixtureDirs()
    val aggs = MaskJobs.instanceAggregates(
      spark, maskDir.toString, Some(depthDir.toString), Some(semDir.toString), fx, fy, cx, cy)
    val b3 = MaskJobs.boxes3d(aggs, semanticClasses = Seq("c0", "c1", "c2", "chair")).collect()
    assert(b3.length == 1) // instance 2: only 4 valid-depth points < 10
    val b = b3.head
    assert(b.getAs[String]("category") == "chair_1") // class 3 -> "chair", instance 1
    val (xmin, xmax, ymin, ymax, zmin, zmax) = expected3d()
    assert(math.abs(b.getAs[Double]("x") - (xmin + xmax) / 2) < 1e-9)
    assert(math.abs(b.getAs[Double]("xl") - (xmax - xmin)) < 1e-9)
    assert(math.abs(b.getAs[Double]("yl") - (ymax - ymin)) < 1e-9)
    assert(b.getAs[Double]("zl") == zmax - zmin)
    assert(b.getAs[Double]("pitch") == 0.0)
  }

  test("boxes3d without semantic classes falls back to object_<id> naming") {
    val (maskDir, depthDir, _) = fixtureDirs()
    val aggs = MaskJobs.instanceAggregates(
      spark, maskDir.toString, Some(depthDir.toString), None, fx, fy, cx, cy)
    val b3 = MaskJobs.boxes3d(aggs).collect()
    assert(b3.length == 1 && b3.head.getAs[String]("category") == "object_1")
  }
}
