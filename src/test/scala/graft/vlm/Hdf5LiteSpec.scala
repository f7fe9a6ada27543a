package graft.vlm

import java.nio.ByteBuffer

/** Round-trips Hdf5Lite against fixture files laid out per the public HDF5
  * File Format Specification (superblock v0, v1 object headers, local heap,
  * v1 B-tree + SNOD, contiguous and compact layouts).
  */
class Hdf5LiteSpec extends SparkSpec {

  test("contiguous float32 dataset decodes with dims (S7; hypersim camera keyframes shape)") {
    val vals = Array(1.5f, -2f, 3f, 4f, 5.25f, 6f)
    val bytes = Hdf5Fixtures.makeHdf5("dataset", Seq(2L, 3L), 4, dtClass = 1, compact = false, nElems = 6) {
      (b, i) => b.putFloat(vals(i))
    }
    val ds = Hdf5Lite.readDataset(bytes)
    assert(ds.dims == Seq(2L, 3L))
    assert(ds.data.toSeq == vals.map(_.toDouble).toSeq)
  }

  test("compact uint16 dataset decodes (S7 fixed-point path)") {
    val vals = Array(0, 1000, 65535)
    val bytes = Hdf5Fixtures.makeHdf5("dataset", Seq(3L), 2, dtClass = 0, compact = true, nElems = 3) {
      (b, i) => b.putShort(vals(i).toShort)
    }
    val ds = Hdf5Lite.readDataset(bytes)
    assert(ds.dims == Seq(3L))
    assert(ds.data.toSeq == Seq(0.0, 1000.0, 65535.0))
  }

  test("unknown dataset name and non-hdf5 payloads fail loudly") {
    val bytes = Hdf5Fixtures.makeHdf5("dataset", Seq(1L), 4, dtClass = 1, compact = false, nElems = 1) {
      (b, _) => b.putFloat(1f)
    }
    intercept[RuntimeException](Hdf5Lite.readDataset(bytes, "missing"))
    intercept[IllegalArgumentException](Hdf5Lite.readDatasets(new Array[Byte](200)))
  }

  test("gzip-chunked float32 dataset with edge chunks decodes (S7; hypersim depth rasters)") {
    // 5×7 dataset in 2×3 chunks → 3×3 chunk grid, right/bottom edges padded
    val dims = Seq(5L, 7L)
    val vals = Array.tabulate(35)(i => i * 0.5f - 3f)
    val bytes = Hdf5Fixtures.makeChunkedHdf5("dataset", dims, Seq(2, 3), 4, dtClass = 1, filters = Seq(1)) {
      (b, i) => b.putFloat(vals(i))
    }
    val ds = Hdf5Lite.readDataset(bytes)
    assert(ds.dims == dims)
    assert(ds.data.toSeq == vals.map(_.toDouble).toSeq)
  }

  test("shuffle+DEFLATE chunked uint16 decodes (h5py gzip+shuffle combination)") {
    val vals = Array.tabulate(60)(i => (i * 1021) % 65536)
    val bytes = Hdf5Fixtures.makeChunkedHdf5("dataset", Seq(6L, 10L), Seq(4, 4), 2, dtClass = 0,
      filters = Seq(2, 1)) { (b, i) => b.putShort(vals(i).toShort) }
    val ds = Hdf5Lite.readDataset(bytes)
    assert(ds.data.toSeq == vals.map(_.toDouble).toSeq)
  }

  test("unfiltered chunked dataset decodes (chunk index without a pipeline)") {
    val vals = Array.tabulate(12)(_.toFloat)
    val bytes = Hdf5Fixtures.makeChunkedHdf5("dataset", Seq(3L, 4L), Seq(2, 2), 4, dtClass = 1,
      filters = Seq.empty) { (b, i) => b.putFloat(vals(i)) }
    assert(Hdf5Lite.readDataset(bytes).data.toSeq == vals.map(_.toDouble).toSeq)
  }

  test("float16 elements decode (Hypersim depth_meters dtype), incl. subnormal/inf") {
    // bit patterns: 1.0=0x3C00, -2.5=0xC100, 0.5=0x3800, min subnormal=0x0001, +inf=0x7C00
    val bits = Array(0x3c00, 0xc100, 0x3800, 0x0001, 0x7c00)
    val bytes = Hdf5Fixtures.makeHdf5("dataset", Seq(5L), 2, dtClass = 1, compact = false, nElems = 5) {
      (b, i) => b.putShort(bits(i).toShort)
    }
    val d = Hdf5Lite.readDataset(bytes).data
    assert(d(0) == 1.0 && d(1) == -2.5 && d(2) == 0.5)
    assert(d(3) == math.pow(2, -24) && d(4).isPosInfinity)
  }

  test("hdf5DepthDecoder plugs into the landing-zone raster job (S7 -> A5)") {
    val dir = tempDir("graft-h5")
    val vals = Array(1.0f, 2.0f, 3.0f)
    val bytes = Hdf5Fixtures.makeHdf5("dataset", Seq(3L), 4, dtClass = 1, compact = false, nElems = 3) {
      (b, i) => b.putFloat(vals(i))
    }
    java.nio.file.Files.write(dir.resolve("depth.hdf5"), bytes)
    val stats = LandingZone.depthStats(
      LandingZone.depthSamples(spark, dir.toString, LandingZone.hdf5Decoder))
      .select("depth_stats.*").collect().head
    assert(stats.getAs[Long]("valid_pixels") == 3 && stats.getAs[Double]("mean") == 2.0)
  }

  test("gzip-chunked float16 raster flows through fullDepthStats end-to-end (real Hypersim depth shape)") {
    val dir = tempDir("graft-h5c")
    // 2×2 float16 raster (1.0, 2.0, 3.0, 4.0), shuffle+gzip chunks — the
    // dtype/layout/filter combination real Hypersim depth_meters files use
    val half = Array(0x3c00, 0x4000, 0x4200, 0x4400)
    val chunked = Hdf5Fixtures.makeChunkedHdf5("dataset", Seq(2L, 2L), Seq(2, 1), 2, dtClass = 1,
      filters = Seq(2, 1)) { (b, i) => b.putShort(half(i).toShort) }
    java.nio.file.Files.write(dir.resolve("depth_chunked.hdf5"), chunked)
    val stats = LandingZone.fullDepthStats(spark, dir.toString, LandingZone.hdf5Decoder)
      .select("depth_stats.*").collect().head
    assert(stats.getAs[Long]("valid_pixels") == 4)
    assert(stats.getAs[Double]("mean") == 2.5)
    assert(stats.getAs[Double]("median") == 2.5)
  }
}
