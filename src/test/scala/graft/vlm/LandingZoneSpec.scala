package graft.vlm

import java.awt.image.BufferedImage
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** Landing-zone raster job: binaryFile scan + 16-bit PNG decode + A5 stats. */
class LandingZoneSpec extends SparkSpec {

  /** Write a real 16-bit grayscale PNG of millimeter depth codes. */
  private def writeDepthPng(path: Path, mm: Seq[Seq[Int]]): Unit = {
    val h = mm.length
    val w = mm.head.length
    val img = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, mm(y)(x))
    assert(javax.imageio.ImageIO.write(img, "png", path.toFile))
  }

  test("pngDepthDecoder: 16-bit PNG mm codes -> meters, row-major (S11; sunrgbd_processor.py:195-200)") {
    val dir = tempDir("graft-png")
    val f = dir.resolve("d.png")
    writeDepthPng(f, Seq(Seq(1000, 2000), Seq(0, 60000)))
    val decoded = LandingZone.pngDepthDecoder(Files.readAllBytes(f))
    assert(decoded.toSeq == Seq(1.0, 2.0, 0.0, 60.0))
  }

  test("depthSamples + depthStats: PNG decode to valid-masked stats (S11/A5)") {
    val dir = tempDir("graft-raster")
    // depths: 1000mm, 2000mm, 3000mm, 0 (invalid), 60000mm (60 m, valid <100)
    writeDepthPng(dir.resolve("frame0.png"), Seq(Seq(1000, 2000, 3000, 0, 60000)))

    val stats = LandingZone.depthStats(LandingZone.depthSamples(spark, dir.toString))
      .select("path", "depth_stats.*").collect()
    assert(stats.length == 1)
    val r = stats.head
    assert(r.getAs[Boolean]("present"))
    assert(r.getAs[Long]("valid_pixels") == 4) // 0mm masked out; 60m < 100m stays
    assert(r.getAs[Long]("total_pixels") == 5)
    assert(r.getAs[Double]("min") == 1.0 && r.getAs[Double]("max") == 60.0)
    assert(r.getAs[Double]("median") == 2.5)
  }

  test("run writes a parquet snapshot joinable on path") {
    val in = tempDir("graft-raster-in")
    val out = tempDir("graft-raster-out").resolve("stats")
    writeDepthPng(in.resolve("a.png"), Seq(Seq(1500, 2500)))
    LandingZone.run(spark, in.toString, out.toString)
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 1)
    assert(back.select("depth_stats.mean").collect().head.getDouble(0) == 2.0)
  }

  test("fullDepthStats: whole-raster stats; corrupt files skipped per-file") {
    val dir = tempDir("graft-full-stats")
    // 4096+ pixels to prove no sample truncation: 100x50 of 2000mm
    writeDepthPng(dir.resolve("big.png"), Seq.fill(50)(Seq.fill(100)(2000)))
    Files.write(dir.resolve("corrupt.png"), "not a png".getBytes)
    val rows = LandingZone.fullDepthStats(spark, dir.toString)
      .select("path", "depth_stats.*").collect()
    assert(rows.length == 1) // corrupt file skipped, job survives
    val r = rows.head
    assert(r.getAs[Long]("valid_pixels") == 5000) // all pixels, not 4096
    assert(r.getAs[Double]("mean") == 2.0)
  }

  test("rawU16Decoder: headerless little-endian mm stream (HDF5-extracted planes)") {
    val buf = java.nio.ByteBuffer.allocate(6).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1000, 0, 2500).foreach(v => buf.putShort(v.toShort))
    assert(LandingZone.rawU16Decoder(buf.array()).toSeq == Seq(1.0, 0.0, 2.5))
  }
}
