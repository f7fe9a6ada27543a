package graft.vlm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The Taskonomy codebook loop (SURVEY.md §3.3) as a Spark pipeline:
  * scan → instance cache (A12) → representatives dedup (J10) → batched
  * inference (mapPartitions hook) → broadcast join-back (J7) → snapshot
  * write. The reference's ProcessPoolExecutor fan-out and manual batch_size
  * dissolve into partition parallelism; its in-place JSON rewrite (K5)
  * becomes an immutable snapshot write.
  *
  * The model stage (CLIP/SAM, build_enhanced_codebook.py:367-419) is out of
  * scope for a query engine — [[Labeler]] is the `mapPartitions` hook where
  * a per-partition model session plugs in; [[stubLabeler]] is the
  * deterministic stand-in mirroring the reference's two-stage
  * threshold semantics (TAU_HIGH=0.015 stage A, TAU_MID=0.010 stage B,
  * else discard; build_enhanced_codebook.py:146-149).
  */
object Codebook {

  /** One bbox occurrence of an unlabeled instance. */
  final case class InstanceLoc(instance_id: Long, source_file: String, bbox_idx: Int)

  /** One codebook row: the inferred semantic label for an instance. */
  final case class CodebookRow(instance_id: Long, label: String, confidence: Double, method: String)

  /** Per-partition batched labeling hook; receives representative locations
    * in batches (the reference's batch_size=16 inference loop,
    * build_label_codebook_fast.py:152-160).
    */
  type Labeler = Seq[InstanceLoc] => Seq[CodebookRow]

  val TauHigh = 0.015
  val TauMid = 0.010
  val BatchSize = 16

  private val StubVocab = Vector("chair", "table", "lamp", "sofa", "cabinet", "shelf", "monitor", "plant")

  /** Deterministic fake two-stage labeler: score and label derive from the
    * instance id hash, so tests and reruns are stable and the stage-A/B/
    * discard tallies exercise the A15 metrics path.
    */
  val stubLabeler: Labeler = batch =>
    batch.map { loc =>
      val score = (graft.queries.PipelineFns.h60Jvm(s"clip:${loc.instance_id}") % 3000).toDouble / 100000.0
      val label = StubVocab((graft.queries.PipelineFns.h60Jvm(s"label:${loc.instance_id}") % StubVocab.size).toInt)
      if (score >= TauHigh) CodebookRow(loc.instance_id, label, score, "stage_a")
      else if (score >= TauMid) CodebookRow(loc.instance_id, label, score, "stage_b")
      else CodebookRow(loc.instance_id, label, score, "discarded")
    }

  /** A12: instance-location cache — every (file, bbox_idx) occurrence of
    * each unlabeled (`object_N`) instance. At scale this is the Parquet
    * intermediate the reference pickles (build_enhanced_codebook.py:33-86).
    */
  def instanceCache(frames: DataFrame): DataFrame =
    FrameSchema.withSourceTag(frames)
      .select(
        coalesce(col("_source_file"), col("image_id")).as("source_file"),
        posexplode(col("bounding_boxes_3d")).as(Seq("bbox_idx", "bbox"))
      )
      // F14 gate, ANSI-safe: cast only under the rlike guard — under Spark
      // 4's default ANSI mode a category like "object_x" would make the
      // bare extract-then-cast throw CAST_INVALID_INPUT and kill the whole
      // build; the digit bound keeps a pathological 20+-digit id from
      // overflowing the long cast the same way (it filters out instead)
      .withColumn("instance_id",
        when(col("bbox.category").rlike("^object_\\d{1,18}$"),
          regexp_extract(col("bbox.category"), "^object_(\\d+)$", 1).cast("long")))
      .filter(col("instance_id").isNotNull)
      .groupBy(col("instance_id"))
      .agg(
        collect_list(struct(col("source_file"), col("bbox_idx"))).as("locations"),
        count(lit(1)).as("n_locations")
      )

  /** J10: representative (first location by file then idx) per instance —
    * dedup before the expensive inference stage.
    */
  def representatives(cache: DataFrame): Dataset[InstanceLoc] = {
    val spark = cache.sparkSession
    import spark.implicits._
    // per-row array_min over the already-collected locations (structs are
    // orderable: source_file then bbox_idx) — the explode + second
    // groupBy(instance_id) alternative re-shuffles every location the
    // cache just collected
    cache
      .select(col("instance_id"), array_min(col("locations")).as("first"))
      .select(col("instance_id"), col("first.source_file").as("source_file"),
        col("first.bbox_idx").as("bbox_idx"))
      .as[InstanceLoc]
  }

  /** §3.3 step 3: batched inference over representatives. Partition-local
    * batching replaces the reference's manual batch loop; swap `labeler`
    * for a real per-partition model session in deployment.
    */
  def infer(reps: Dataset[InstanceLoc], labeler: Labeler = stubLabeler): Dataset[CodebookRow] = {
    val spark = reps.sparkSession
    import spark.implicits._
    reps.mapPartitions(_.grouped(BatchSize).flatMap(labeler))
  }

  /** Kept codebook = stage A/B rows only (discards dropped), as a plain
    * DataFrame ready for broadcast.
    */
  def keptCodebook(rows: Dataset[CodebookRow]): DataFrame =
    rows.filter(col("method") =!= "discarded").toDF()

  /** J7 join-back (create_labeled_dataset.py:105-141): relabel matched
    * bboxes `pseudo_<label>_<id>`, drop unmatched bboxes, keep only frames
    * retaining >= 1 labeled bbox (the file-level left-semi), and stamp
    * provenance counts. Codebook side is broadcast — it is tiny relative to
    * the corpus at any scale.
    */
  def applyCodebook(frames: DataFrame, codebook: DataFrame): DataFrame = {
    // deterministic frame identity: the full frame column set (including
    // _source_file and image_id) is stable across task retries, unlike
    // monotonically_increasing_id
    val tagged = FrameSchema.withSourceTag(frames)
    val frameCols = tagged.columns.filterNot(_ == "bounding_boxes_3d").map(col).toIndexedSeq
    val exploded = tagged
      .select(frameCols :+ posexplode(col("bounding_boxes_3d")).as(Seq("bbox_idx", "bbox")): _*)
      // ANSI-safe: cast only when the category matches (an empty extract
      // would throw, and the digit bound keeps a 20+-digit id from
      // overflowing the long cast)
      .withColumn("instance_id",
        when(col("bbox.category").rlike("^object_\\d{1,18}$"),
          regexp_extract(col("bbox.category"), "^object_(\\d+)$", 1).cast("long")))
    val relabeled = exploded
      .join(broadcast(codebook), Seq("instance_id")) // inner: unmatched bboxes dropped
      .withColumn("bbox", col("bbox").withField("category",
        concat(lit("pseudo_"), col("label"), lit("_"), col("instance_id").cast("string"))))
    relabeled
      .groupBy(frameCols: _*)
      .agg(
        sort_array(collect_list(struct(col("bbox_idx"), col("bbox")))).as("ordered"),
        count(lit(1)).as("labeled_boxes")
      )
      .withColumn("bounding_boxes_3d", transform(col("ordered"), x => x.getField("bbox")))
      .withColumn("labeling_info", struct(
        col("labeled_boxes"),
        lit("enhanced_clip_codebook_stub").as("labeling_method")
      ))
      .drop("ordered", "labeled_boxes")
  }

  /** A13: cache statistics — min/max/avg locations per instance
    * (build_enhanced_codebook.py:76-84).
    */
  def cacheStats(cache: DataFrame): DataFrame =
    cache.agg(
      count(lit(1)).as("n_instances"),
      sum(col("n_locations")).as("total_locations"),
      min(col("n_locations")).as("min_locations"),
      max(col("n_locations")).as("max_locations"),
      round(avg(col("n_locations")), 4).as("avg_locations")
    )

  /** A15: stage tallies + success rate over all inference outcomes. */
  def successRates(rows: Dataset[CodebookRow]): DataFrame =
    rows.toDF()
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("method") === "stage_a", 1).otherwise(0)).as("stage_a"),
        sum(when(col("method") === "stage_b", 1).otherwise(0)).as("stage_b"),
        sum(when(col("method") === "discarded", 1).otherwise(0)).as("discarded"),
        round(avg(when(col("method") =!= "discarded", 1.0).otherwise(0.0)), 4).as("success_rate")
      )

  /** End-to-end (§3.3): frames → cache → reps → infer → kept codebook. */
  def build(frames: DataFrame, labeler: Labeler = stubLabeler): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    val reps = representatives(instanceCache(frames))
    keptCodebook(infer(reps, labeler))
  }
}
