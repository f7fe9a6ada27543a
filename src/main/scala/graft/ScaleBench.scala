package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve harness for the dedup + ANN families — the measured
  * counterpart to the README's 100 TB design claims. The driver's testdata
  * stops at sf0.1 (5k docs / 2k vectors), which verifies correctness but
  * says nothing about GROWTH; this main synthesizes k× corpora from sf0.1
  * by deterministic reseeding and times the band-join/IVF query families
  * at each scale, at whichever GraftConfig preset the JVM was launched
  * under. One JSON line per preset and family list is upserted into
  * `bench_scale_last.json` (see [[sameCurve]]).
  *
  * Reseeding is built so corpus STATISTICS stay scale-invariant — the
  * point is to grow n, not to inject artificial duplicate mass:
  *  - documents: replica r rewrites text through a Caesar rotation of the
  *    alphabet by r. Token counts, lengths, and repetition structure are
  *    preserved; shingle sets decorrelate across replicas (rotated tokens
  *    hash independently), so each replica contributes its own copy of the
  *    original near-dup pair distribution and the global dup RATE is
  *    unchanged. Plain duplication would instead let d8's exact-dup
  *    collapse erase the added work; appending marker tokens would
  *    near-dup every replica against its original and grow pair counts
  *    quadratically by construction. Both would measure the wrong thing.
  *  - embeddings: replica r cyclically shifts the vector by r positions —
  *    norms (and so all within-replica cosine structure) are preserved
  *    exactly; cross-replica cosines scramble.
  *  - ids offset by r × n so replicas never collide; the fixed probe sets
  *    (vec_id < 10 etc.) stay in replica 0, as a production query set
  *    would stay fixed while the corpus grows.
  *
  * Protocol: scales ascend (the 1× pass plus an explicit warmup absorbs
  * codegen/JIT — plans are scale-invariant, so later scales hit the
  * codegen cache); before every measured query the shared dedup caches
  * are released and the session cache cleared, so each number is the full
  * pipeline cost at that scale, not a memo hit.
  *
  *   runMain graft.ScaleBench [srcDir] [workDir] [scalesCsv] [familiesCsv]
  *   GRAFT_PRESET=100tb runMain graft.ScaleBench   # capacity geometry
  *
  * `familiesCsv` restricts the run to a subset of [[Families]] — for deep
  * single-family curves (e.g. the dedup family at ×30) whose full-family
  * runtime would be prohibitive. A subset curve gets its own line next to
  * the full-family one.
  */
object ScaleBench {

  private val Families = Seq(
    "d8_scalable_dedup", "d12_edit_distance_verify", "d13_leakage_safe_split",
    "d14_containment_dedup", "d17_fuzzy_decontaminate", "t18_ngram_novelty",
    "v6_ivf_ann", "v10_ivfpq_ann", "v11_ann_recall",
    // events family (round 8): sessionize = the window-heavy shape, asof =
    // the sort-merge-ish self-join shape — the two stateful/temporal plans
    // that had never been on the curve
    "e_sessionize", "j_asof_recent_purchase",
    // multimodal dedup (round 9): the phash chunk-join shape — the one
    // pillar whose growth the LSH-band family curves don't already cover
    "mm7_phash_near_dup",
    // fixed-eval decontamination legs (round 10): the catalog's `%97`
    // convention grows the eval side 1/97th of the corpus, so the plain
    // d17/v13 curves conflate eval growth with corpus growth; these pin
    // the eval set at its ×1 size (ids < the ×1 stride — the replica-0
    // rows) while the training side scales — the production contract
    // ("eval side is eval-set-sized at any corpus scale") made measurable
    "d17_fixed_eval", "v13_fixed_eval",
    // incremental primitives (round 12): the daily-diff and merge-on-read
    // shapes — each ONE key-partitioned shuffle (full-outer hash diff;
    // partial-aggregated max_by supersede), so their curves must go linear
    // with a flat per-row constant — and the index-health rollup, whose
    // output is numCells rows at ANY corpus size (its curve measures the
    // corpus-side partial aggregate alone)
    "u6_snapshot_delta", "u7_mvcc_read", "v20_centroid_drift",
    // drift re-seed (round 13): v20's shape plus the reseed arithmetic on
    // the ≤ numCells post-shuffle rows — its curve must coincide with
    // v20's (the reseed adds ZERO corpus-scale work by construction)
    "v21_drift_reseed",
    // filtered serving (round 13): broadcast probes + the in-session
    // label join-back on the pk — the curve watches that join (at serving
    // scale the label is an inverted-list payload column and it vanishes)
    "v22_filtered_ann",
    // adaptive-nprobe filtered serving (round 14): v22's candidate shape
    // plus the router-histogram escalation — the histogram is a
    // (cell, label) aggregate (output bounded by C × |labels| at ANY
    // corpus size) and the ranked-prefix window runs on queries × C rows,
    // so the curve must track v22's with a ~flat metadata increment
    "v24_adaptive_nprobe",
    // router-histogram fold (round 14): the maintenance half of v24 — the
    // fold is two delta/histogram-scale aggregates + one outer join, but
    // this catalog form recomputes hist0 from the corpus, so its curve
    // measures that corpus-side (cell, label) partial aggregate (output
    // bounded by C × |labels| at ANY corpus size, like v20's)
    "v25_histogram_fold",
    // budget-capped selection (round 14): one corpus scan + the segmented
    // (source, seg) prefix-sum shuffle + broadcast budgets — must go
    // linear with a flat per-row constant; a super-linear bend here means
    // the window degenerated to one-task-per-source
    "m11_budget_select",
    // shuffled export sharding (round 15): the GLOBAL segmented prefix
    // sum — no partition columns at all, the shape whose naive form is a
    // one-task window over the whole corpus. Its curve must go linear
    // with a flat per-row constant (one scan + one segment-key shuffle +
    // a segments-row broadcast fold); a bend here means the segmentation
    // degenerated back to the serialized global window
    "t19_shuffled_shards",
    // LSH geometry audit (round 11): the sample is pinned at
    // AuditSampleCap docs inside the operator itself (TakeOrderedAndProject
    // over the seeded hash), so this leg measures what the pin buys — the
    // audit's cost must go LINEAR (scan + top-k) once the cap binds at ×3+,
    // where the old corpus-proportional sample grew the pair stage n²/289
    "d18_lsh_geometry_audit")

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  private val Digits = "0123456789"

  /** Replica transforms repeat once letter AND digit rotations both wrap:
    * lcm(26, 10). Past it, replicas byte-duplicate earlier ones and the
    * exact-dup collapse would erase the added work — the measurement bias
    * this reseeding exists to avoid — so the scale list is bounded loudly.
    */
  val MaxReplicas = 130

  /** Write the k×-reseeded documents + embeddings tables under `dst`.
    * Returns (docRows, vecRows) at this scale.
    */
  def synthesize(spark: SparkSession, src: String, dst: String, k: Int): (Long, Long) = {
    require(k >= 1 && k <= MaxReplicas,
      s"scale $k exceeds the $MaxReplicas distinct replica transforms (rotations would wrap)")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    // id stride = max(id)+1, NOT the row count: sparse id spaces would
    // otherwise overlap replica ranges and pair unrelated rows
    val docStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val scaledDocs = (0 until k).map { r =>
      // independent letter/digit rotations: every token class decorrelates
      // across replicas, and the combined period is lcm(26,10) = 130
      val rot = Letters.drop(r % 26) + Letters.take(r % 26) +
        Digits.drop(r % 10) + Digits.take(r % 10)
      val text = if (r == 0) col("text") else translate(col("text"), Letters + Digits, rot)
      docs.select(
        (col("doc_id") + lit(r * docStride)).as("doc_id"), text.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    scaledDocs.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = emb.count()
    val vecStride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val scaledEmb = (0 until k).map { r =>
      val sh = r % dim
      val e =
        if (sh == 0) col("embedding")
        else concat(slice(col("embedding"), sh + 1, dim - sh), slice(col("embedding"), 1, sh))
      emb.select((col("vec_id") + lit(r * vecStride)).as("vec_id"), e.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
    scaledEmb.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // events: replica r offsets event_id and user_id by their strides; the
    // physical ts column passes through UNTOUCHED (same encoding as the
    // source, so Tables.events normalizes the synthetic corpus exactly as
    // it does the driver's). Offsetting user_id grows the number of
    // session/asof groups linearly while keeping per-group event counts
    // and timestamp structure identical — the growth a real corpus shows
    // when more users arrive, and the right shape for measuring
    // window/sessionize/asof scaling (state per key constant, keys × k).
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evStride = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val userStride = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    val scaledEv = (0 until k).map { r =>
      ev.select(
        (col("event_id") + lit(r * evStride)).as("event_id"), col("ts"),
        (col("user_id") + lit(r * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
    scaledEv.write.mode("overwrite").parquet(s"$dst/events.parquet")
    (nDocs * k, nVec * k)
  }

  private def coldRun(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Double = {
    graft.queries.DedupQueries.release(spark, dir)
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Whether `line` is an earlier curve of the same preset and family
    * set, the one a new run replaces: a subset curve must not overwrite
    * the full-family line, nor one subset another. Unparsable lines are
    * kept.
    */
  private[graft] def sameCurve(preset: String, families: Seq[String])(line: String): Boolean =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      val names = scala.jdk.CollectionConverters.IteratorHasAsScala(node.path("queries").fieldNames).asScala
      node.path("preset").asText == preset && names.toSet == families.toSet
    } catch { case scala.util.control.NonFatal(_) => false }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scale")
    val scales = args.lift(2).map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 3, 10))
    require(scales == scales.sorted, "run scales ascending (warmup discipline)")
    val families = args.lift(3) match {
      case None => Families
      case Some(csv) =>
        val req = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = req.filterNot(Families.contains)
        require(unknown.isEmpty, s"unknown families: ${unknown.mkString(",")} (known: ${Families.mkString(",")})")
        req
    }
    val preset = GraftConfig.activeName
    val spark = GraftSession.getOrCreate()
    val calib = Artifacts.calibrate(spark)

    val rows = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long)]
    for (k <- scales)
      rows(k) = synthesize(spark, src, s"$workDir/x$k", k)

    // fixed-eval legs: the eval side pinned to the ×1 corpus's rows — ids
    // below the source id stride, i.e. replica 0 of every synthesized
    // scale (the id-offset rule above guarantees replica 0 IS the source)
    val docStride = spark.read.parquet(s"$src/documents.parquet")
      .agg(max(col("doc_id"))).head().getLong(0) + 1
    val vecStride = spark.read.parquet(s"$src/embeddings.parquet")
      .agg(max(col("vec_id"))).head().getLong(0) + 1
    def queryFn(name: String): (SparkSession, String) => DataFrame = name match {
      case "d17_fixed_eval" =>
        (sp, dir) => graft.queries.DedupQueries.fuzzyDecontaminate(sp, dir, docStride)
      case "v13_fixed_eval" =>
        (sp, dir) => graft.queries.EmbeddingQueries.semanticDecontaminate(sp, dir, vecStride)
      case n => SparkEntry.queries(n)
    }

    // codegen/JIT warmup at the smallest scale, unmeasured
    families.foreach(f => coldRun(spark, s"$workDir/x${scales.head}", queryFn(f)))

    // two cold samples per point, BOTH recorded ("queries" = min is the
    // headline, "queries_max" keeps outliers auditable): each sample is a
    // full released-cache pipeline run, so the min is still the honest
    // Spark-cold cost — but a GC pause or JIT recompile landing in a
    // single sample no longer prints as a fake scaling knee (round 8
    // observed a 3× one-sample outlier on d13-x1 that a re-measure
    // dissolved). Caveat: sample 2 re-reads the same files, so the OS
    // page cache is warm for it — "cold" here means cold Spark caches,
    // not cold disk. The bias is shared across scales (every point's
    // min inherits it equally), so the CURVE SHAPE — the artifact's
    // purpose — is unaffected; absolute seconds read slightly low.
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Double, Double)]]
    for (name <- families)
      times(name) = scales.map { k =>
        // each scale's stages start at the count ITS corpus bytes warrant
        // (input-sized rule, GraftSession.initialPartitions): ×1 keeps the
        // 1× start, ×10 gets the spill-free 2× — measured per point, not
        // one flat multiplier across the sweep
        GraftSession.sizeShuffleFor(spark, s"$workDir/x$k")
        val samples = Seq.fill(2)(coldRun(spark, s"$workDir/x$k", queryFn(name)))
        (samples.min, samples.max)
      }

    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = times.map { case (n, ts) => "\"" + n + "\":[" + ts.map(t => fmt(t._1)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val qsMax = times.map { case (n, ts) => "\"" + n + "\":[" + ts.map(t => fmt(t._2)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"scale_curve","preset":"$preset","calib":${fmt(calib)},"src":"$src"""" +
        s""","scales":[${scales.mkString(",")}]""" +
        s""","doc_rows":[${scales.map(rows(_)._1).mkString(",")}]""" +
        s""","vec_rows":[${scales.map(rows(_)._2).mkString(",")}]""" +
        s""","queries":$qs,"queries_max":$qsMax}"""
    Artifacts.upsertWhere(Artifacts.outPath("bench_scale_last.json"), sameCurve(preset, families), line)
    spark.stop()
    println(line)
    Console.out.flush()
  }
}
