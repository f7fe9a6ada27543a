package graft.vlm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Landing-zone jobs for binary raster/scientific formats (SURVEY §2.1
  * S7/S11, §7.4 item 1): `binaryFile` scan, partition-local decode,
  * declared schema, partitioned parquet write. [[pngDepthDecoder]] is a
  * real 16-bit PNG depth reader (pure JVM `javax.imageio` — no native
  * deps), matching the reference's `cv2.imread(..., IMREAD_UNCHANGED)
  * .astype(float32) / 1000.0` millimeter→meter convention
  * (sunrgbd_processor.py:195-200). The decoder stays injectable so
  * deployment codecs (HDF5 for Hypersim, S7) plug into the same job.
  */
object LandingZone {

  /** Raw raster bytes → row-major depth values in meters. */
  type RasterDecoder = Array[Byte] => Array[Double]

  /** Real decoder: 16-bit (or 8-bit) grayscale PNG of millimeter depths →
    * meters, row-major like the reference's cv2 read. `javax.imageio`
    * returns a TYPE_USHORT_GRAY raster for 16-bit grayscale PNG, so sample
    * values are the raw 0–65535 millimeter codes.
    */
  val pngDepthDecoder: RasterDecoder = bytes => {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val raster = img.getRaster
    val (w, h) = (raster.getWidth, raster.getHeight)
    val out = new Array[Double](w * h)
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) { out(i) = raster.getSample(x, y, 0) / 1000.0; i += 1; x += 1 }
      y += 1
    }
    out
  }

  /** Raw little-endian uint16 streams (headerless fixtures / HDF5-extracted
    * planes whose codec ran upstream): consecutive millimeter values.
    */
  val rawU16Decoder: RasterDecoder = bytes => {
    val n = bytes.length / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val mm = ((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)
      out(i) = mm / 1000.0
      i += 1
    }
    out
  }

  /** HDF5 landing decoder (S7): reads the Hypersim-style single `"dataset"`
    * array via the pure-JVM [[Hdf5Lite]] subset reader. Values pass through
    * unscaled — Hypersim depth is float meters already
    * (hypersim_processor.py:55-69).
    */
  val hdf5Decoder: RasterDecoder = bytes => Hdf5Lite.readDataset(bytes).data

  /** One row per raster file: path + a bounded sample of decoded depths.
    * Sampling is a head-take (deterministic); at raster scale the sample
    * bound keeps row sizes inside executor memory budgets.
    */
  def depthSamples(
      spark: SparkSession,
      dir: String,
      decoder: RasterDecoder = pngDepthDecoder,
      maxSamples: Int = 4096): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (path, bytes) =>
        (path, decoder(bytes).take(maxSamples).toSeq)
      })
      .toDF("path", "depths")
  }

  /** Exact A5 statistics over a decoded raster, computed where the decode
    * runs — valid mask is the reference's `d > 0 ∧ finite`
    * (utils.py:104-105); exact median via sort.
    */
  def statsOf(depths: Array[Double]): FrameSchema.DepthStats = {
    val valid = depths.filter(d => d > 0 && !d.isInfinite && !d.isNaN).sorted
    if (valid.isEmpty)
      FrameSchema.DepthStats(present = false, 0L, depths.length.toLong, None, None, None, None)
    else {
      val n = valid.length
      val median = if (n % 2 == 1) valid(n / 2) else (valid(n / 2 - 1) + valid(n / 2)) / 2
      FrameSchema.DepthStats(present = true, n.toLong, depths.length.toLong,
        Some(valid.head), Some(valid.last), Some(median), Some(valid.sum / n))
    }
  }

  /** FULL-raster per-file depth stats: decode + aggregate inside the task,
    * so row size is O(1) regardless of raster size (a 640×480 frame emits
    * one stats row, never a 307k-element sample array). This is the path
    * the frame processors use; [[depthSamples]] below keeps a bounded
    * sample when the downstream op wants values, not stats.
    */
  def fullDepthStats(
      spark: SparkSession,
      dir: String,
      decoder: RasterDecoder = pngDepthDecoder): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        // per-file fault isolation (the reference's per-scene try/except,
        // sunrgbd_processor.py:195-205): a corrupt raster skips that file
        try Some((path, statsOf(decoder(bytes))))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[landing] skipping undecodable $path: ${e.getMessage}")
          None
        }
      }
      .toDF("path", "depth_stats")
  }

  /** Landing output: per-frame depth_stats (A5) ready to join into the
    * unified frame corpus on the raster path. NOTE: stats cover the sample
    * `depthSamples` kept (its `maxSamples` bound); use [[fullDepthStats]]
    * for whole-raster statistics.
    */
  def depthStats(samples: DataFrame): DataFrame =
    samples.select(
      col("path"),
      GeoFunctions.depthStatsCol(col("depths"), size(col("depths")).cast("long")).as("depth_stats")
    )

  /** Full landing job: rasters → depth stats parquet snapshot. */
  def run(spark: SparkSession, rasterDir: String, outDir: String,
          decoder: RasterDecoder = pngDepthDecoder): Unit =
    depthStats(depthSamples(spark, rasterDir, decoder))
      .write.mode("overwrite").parquet(outDir)
}
