package graft

import graft.vlm._
import graft.vlm.FrameSchema._
import org.apache.spark.sql.SparkSession

/** Dev driver: synthesize a frame corpus, push it through ingest → all nine
  * QA tasks → sinks → summary, and print throughput. Validates the domain
  * engine end-to-end at a scale the unit fixtures don't reach.
  *
  * Usage: runMain graft.PipelineDemo [nFrames] [outDir]
  */
object PipelineDemo {

  /** Deterministic synthetic frame corpus (seeded hash, no RNG state):
    * `nFrames` frames over 4 splits / 50-frame scenes with 1–6 boxes each.
    * Shared by the pipeline and write-path benches so both measure the
    * same corpus shape.
    */
  def synthFrames(spark: SparkSession, nFrames: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val cats = Vector("chair", "table", "lamp", "sofa", "monitor", "class_84", "object_7")
    def rng(i: Int, k: Int): Double =
      (graft.queries.PipelineFns.h60Jvm(s"demo:$i:$k") % 1000).toDouble / 1000.0

    spark.range(nFrames).map { id =>
      val i = id.toInt
      val nBoxes = 1 + (i % 6)
      val boxes = (0 until nBoxes).map { b =>
        Bbox3D(
          x = rng(i, b) * 6 - 3, y = rng(i, b + 100) * 2 - 1, z = 1.0 + rng(i, b + 200) * 8,
          xl = 0.2 + rng(i, b + 300), yl = 0.2 + rng(i, b + 400), zl = 0.2 + rng(i, b + 500),
          pitch = 0, yaw = rng(i, b + 600) * 2 - 1, roll = 0,
          category = cats((i + b) % cats.size))
      }
      val boxes2d = (0 until nBoxes).map { b =>
        Bbox2D(rng(i, b) * 500, rng(i, b + 700) * 300, 20 + rng(i, b + 800) * 200, 20 + rng(i, b + 900) * 150, None, cats((i + b) % cats.size))
      }
      val extr = Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0), Seq(0, 0, 0, 1.0))
      FrameRecord(
        dataset = "demo", split = s"s${i % 4}", image_id = f"img_$i%07d",
        scene_id = Some(s"scene${i / 50}"), video_id = None, frame_id = Some((i % 50).toString),
        filename = None, rgb_path = None, depth_path = None, depth_type = "none",
        camera = Camera(500, 500, 320, 240, 640, 480,
          Seq(Seq(500.0, 0, 320), Seq(0, 500.0, 240), Seq(0, 0, 1.0)), Some(extr)),
        depth_stats = None, bounding_boxes_2d = boxes2d, bounding_boxes_3d = boxes, timestamp = None)
    }.toDF().withColumn("_source_file", org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("mem://"), org.apache.spark.sql.functions.col("image_id")))
  }

  def main(args: Array[String]): Unit = {
    val nFrames = args.headOption.map(_.toInt).getOrElse(20000)
    val outDir = args.lift(1).getOrElse("/tmp/graft_pipeline_demo")
    val spark = GraftSession.getOrCreate()

    val t0 = System.nanoTime()
    val frames = synthFrames(spark, nFrames)

    val counts = QaPipeline.run(spark, frames, "demo", outDir)
    val secs = (System.nanoTime() - t0) / 1e9
    val total = counts.values.sum
    counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(f"[demo] $t%-20s $n%8d qa pairs") }
    println(f"[demo] $nFrames frames -> $total qa pairs in $secs%.1f s (${nFrames / secs}%.0f frames/s)")
    // one line PER SCALE (upsert keyed on the frame count): the frames/s
    // claim lives on a scale curve, not a single point — re-runs replace
    // their own scale's line and leave the others comparable
    val calib = Artifacts.calibrate(spark)
    Artifacts.upsertLine(Artifacts.outPath("throughput_pipeline.json"), s""""frames":$nFrames,""",
      f"""{"metric":"pipeline_frames_per_s","value":${nFrames / secs}%.0f,"frames":$nFrames,"qa_pairs":$total,"sec":$secs%.1f,"calib":$calib%.2f}""")
    spark.stop()
  }
}
