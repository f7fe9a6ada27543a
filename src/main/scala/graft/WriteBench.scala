package graft

import org.apache.spark.sql.functions._

/** Write-path benchmark — the egress half of the 100 TB story. The sink
  * family (K1 per-record JSON, K4 summary, K5/K6 snapshot writes) and the
  * Layout module (range/Z clustering, small-file compaction) are
  * spec-tested for correctness; this main measures their THROUGHPUT on the
  * synthetic frame corpus the pipeline bench uses, at whichever
  * GraftConfig preset the JVM was launched under.
  *
  * Measured phases:
  *  1. `json_partitioned` — [[graft.vlm.Ingest.writeFrames]]: the K1 sink
  *     shape (hive-partitioned by (dataset_p, split_p), one JSON record
  *     per frame).
  *  2. `parquet_partitioned` — same partitioning, parquet: the snapshot
  *     sink shape (K5/K6) a warehouse-resident corpus uses.
  *  3. `parquet_range_clustered` — [[graft.layout.Layout.writeRangeClustered]]
  *     on (scene_id, image_id): the scan-optimized layout (footer-stats
  *     pruning), paying its global range shuffle.
  *  4. `fragmented ingest + compact` — write the corpus as many tiny
  *     files (the incremental-ingest pathology: one file per micro-batch
  *     per partition), then [[graft.layout.Layout.compact]] back to
  *     size-targeted files. Records files before/after, the compaction
  *     ratio, and compaction MB/s.
  *
  * One JSON line per preset is upserted into `write_bench_last.json`.
  *
  *   runMain graft.WriteBench [nFrames] [workDir]
  *   GRAFT_PRESET=100tb runMain graft.WriteBench
  */
object WriteBench {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def listFiles(spark: org.apache.spark.sql.SparkSession, path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && !st.getPath.getName.startsWith("_")) out += st
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val nFrames = args.headOption.map(_.toInt).getOrElse(50000)
    val workDir = args.lift(1).getOrElse("/tmp/graft_write_bench")
    val preset = GraftConfig.activeName
    val spark = GraftSession.getOrCreate()
    val calib = Artifacts.calibrate(spark)

    // Materialize the synthetic corpus once so every phase measures WRITE
    // cost, not frame synthesis (parquet round-trip, not .cache(): the
    // read side of each phase then matches a real corpus — columnar scan,
    // not an in-memory relation).
    val srcDir = s"$workDir/src"
    PipelineDemo.synthFrames(spark, nFrames).write.mode("overwrite").parquet(srcDir)
    val frames = spark.read.parquet(srcDir)

    // 1. K1 sink: hive-partitioned per-record JSON
    val (_, tJson) = timed {
      graft.vlm.Ingest.writeFrames(frames, s"$workDir/json")
    }

    // 2. snapshot sink: same partitioning, parquet
    val (_, tParquet) = timed {
      frames.drop("_source_file")
        .withColumn("dataset_p", col("dataset")).withColumn("split_p", col("split"))
        .write.mode("overwrite").partitionBy("dataset_p", "split_p")
        .parquet(s"$workDir/parquet")
    }

    // 3. scan-optimized layout: global range shuffle + in-file sort
    val nClustered = math.max(8, nFrames / 12500)
    val (_, tRange) = timed {
      graft.layout.Layout.writeRangeClustered(
        frames.drop("_source_file"), s"$workDir/range",
        Seq(col("scene_id"), col("image_id")), nClustered)
    }

    // 4. fragmented ingest (256 writer tasks × 4 hive partitions ≈ 1k
    // files — the per-trigger file spray of incremental ingest), then
    // compaction to 32 MB targets
    val fragDir = s"$workDir/frag"
    val (_, tFrag) = timed {
      frames.drop("_source_file")
        .withColumn("split_p", col("split"))
        .repartition(256)
        .write.mode("overwrite").partitionBy("split_p").parquet(fragDir)
    }
    val before = listFiles(spark, fragDir)
    val fragBytes = before.map(_.getLen).sum
    val ((nAfterTarget), tCompact) = timed {
      graft.layout.Layout.compact(spark, fragDir, s"$workDir/compacted", 32L * 1024 * 1024)
    }
    val after = listFiles(spark, s"$workDir/compacted")

    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def rate(t: Double) = fmt(nFrames / t)
    val line =
      s"""{"metric":"write_bench","preset":"$preset","calib":${fmt(calib)},"frames":$nFrames""" +
        s""","json_partitioned":{"sec":${fmt(tJson)},"frames_per_s":${rate(tJson)}}""" +
        s""","parquet_partitioned":{"sec":${fmt(tParquet)},"frames_per_s":${rate(tParquet)}}""" +
        s""","parquet_range_clustered":{"sec":${fmt(tRange)},"frames_per_s":${rate(tRange)},"files":$nClustered}""" +
        s""","fragmented_ingest":{"sec":${fmt(tFrag)},"files":${before.size}}""" +
        s""","compaction":{"sec":${fmt(tCompact)},"files_before":${before.size},"files_after":${after.size}""" +
        s""","target_files":$nAfterTarget,"ratio":${fmt(before.size.toDouble / math.max(1, after.size))}""" +
        s""","mb_per_s":${fmt(fragBytes / 1e6 / tCompact)}}}"""
    Artifacts.upsertLine(Artifacts.outPath("write_bench_last.json"), s""""preset":"$preset"""", line)
    spark.stop()
    println(line)
    Console.out.flush()
  }
}
