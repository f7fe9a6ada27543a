package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Dev driver for the corpus-curation surface: push a replicated document
  * corpus through the full pretraining funnel — quality gates → exact-dup
  * collapse → LSH near-dup keep-first → stratified sampling → sequence
  * packing — and print the per-stage funnel and docs/s throughput.
  * (The QA/VLM counterpart is [[PipelineDemo]].)
  *
  * Replication note: the input is the driver's testdata replicated
  * `copies`× with offset doc_ids — a load test of the dedup path (replicas
  * are exact duplicates by construction, so the exact-collapse stage must
  * remove all but one of each; survivors are original-corpus-sized). This
  * replication keeps the VOCABULARY invariant, so the absolute t14
  * surprisal band (3.0–4.1 mean bits) stays meaningful at any `copies` —
  * the ×10 funnel artifact uses it (copies=320 → 1.6M docs). Running the
  * funnel over a SfSynth/ScaleBench ROTATION-synthesized dir instead
  * multiplies the vocabulary by k (every rotated token is new), which
  * raises every doc's surprisal by ~log2(k) bits and empties the LM stage
  * — a fixture artifact (real corpora grow vocab sub-linearly, Heaps'
  * law), recorded as such in the committed throughput_corpus.json line
  * for that dir, not a funnel property.
  *
  * Usage: runMain graft.CorpusDemo [sfDir] [copies] [exportDir]
  */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = GraftSession.getOrCreate()
    import graft.queries.PipelineFns._

    val t0 = System.nanoTime()
    val raw = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"),
        explode(sequence(lit(0), lit(copies - 1))).as("copy"))
      .select((col("doc_id") + col("copy") * 1000000000L).as("doc_id"),
        col("source"), col("text"))

    // stage signals in ONE pass: quality gates + sample bucket from the
    // shared curationSignals (single source of truth for thresholds),
    // exact-dup representative (min doc_id per content hash), near-dup
    // keep-first on exact representatives (min doc_id per LSH band bucket)
    import graft.queries.CurationQueries
    import graft.queries.PipelineFns.tokens
    val sig = CurationQueries.curationSignals(raw)
      // token-NORMALIZED content hash — the d1/d8 exact-dup rule (case/
      // punctuation/whitespace variants collapse before the quadratic stage)
      .withColumn("ch", md5(array_join(tokens(col("text")), " ")))
      .withColumn("keep_quality", CurationQueries.qualityGate)
      .withColumn("exact_rep", min(col("doc_id")).over(Window.partitionBy(col("ch"))))
      .withColumn("keep_sample", col("bucket") < CurationQueries.sampleRate)
      .cache() // branched into reps→nearDupHits AND the funnel join

    val reps = sig.filter(col("keep_quality") && col("doc_id") === col("exact_rep"))
    // near-dup keep-first on exact representatives only (the d8 shape:
    // replicas never reach the quadratic stage)
    val hits = graft.streaming.StreamingOps
      .nearDupHits(graft.streaming.StreamingOps.nearDupBandRows(
        reps.select(col("doc_id"), col("text"))))
      .select(col("doc_id")).distinct()
      .withColumn("near_dup", lit(true))

    // fuzzy decontamination (the d17 guard): screen the deduped
    // representatives against an EXTERNAL eval suite — here the original
    // corpus's %97 rows, collected once into the broadcast-sized serving
    // index (the production shape: a fixed benchmark set, corpus-scale
    // training side, stateless map-only screen). Eval MEMBERS themselves
    // (the copy-0 %97 rows that survive dedup) are excluded from the
    // screen and removed by explicit membership instead — d17's
    // training-side convention — so the decon stage counts true near-dup
    // contamination plus membership removal, never jaccard-1.0 self-hits
    // dressed up as fuzzy matches.
    val evalIdx = graft.streaming.StreamingOps.collectEvalDocs(
      Tables.documents(spark, sfDir).filter(col("doc_id") % 97 === 0))
    val isEvalMember = col("doc_id") < 1000000000L && col("doc_id") % 97 === 0
    val contaminated = graft.streaming.StreamingOps
      .screenDocsFuzzy(reps.filter(!isEvalMember).select(col("doc_id"), col("text")), evalIdx)
      .select(col("doc_id")).withColumn("contaminated", lit(true))

    // LM-surprisal band (t14) trained on the deduped representatives —
    // training the filter model AFTER exact collapse is the production
    // order (replica mass would otherwise skew the vocabulary counts)
    val lm = graft.queries.TextQueries
      .unigramSurprisal(reps.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("in_band").as("lm_ok"))

    val funnel = sig
      .join(hits, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        // m11's integer-ppm quality from the signals already computed
        // (nd = n_tokens − n_dup_tokens): the budget leg below ranks on
        // it without another pass over text. Tokenless docs guard to 0
        // (they never survive the quality gate, but an unguarded NaN→long
        // cast would ANSI-fail the whole funnel aggregate)
        when(col("n_tokens") > 0,
          floor((col("n_tokens") - col("n_dup_tokens")).cast("double") * lit(1000000)
            / col("n_tokens").cast("double")).cast("long")).otherwise(lit(0L)).as("qi"),
        col("keep_quality"),
        (col("doc_id") =!= col("exact_rep")).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        // removed at the decon stage either way: fuzzy match OR benchmark
        // membership (the explicit form of "eval rows never reach training")
        (coalesce(col("contaminated"), lit(false)) || isEvalMember).as("contaminated"),
        coalesce(col("lm_ok"), lit(false)).as("lm_ok"),
        col("keep_sample"))
      .cache()

    // coalesce: sums over an empty input are null, not 0
    val stages = funnel.agg(
      count(lit(1)).as("input"),
      coalesce(sum(when(col("keep_quality"), 1L).otherwise(0L)), lit(0L)).as("quality"),
      coalesce(sum(when(col("keep_quality") && !col("exact_dup"), 1L).otherwise(0L)), lit(0L)).as("exact"),
      coalesce(sum(when(col("keep_quality") && !col("exact_dup") && !col("near_dup"), 1L).otherwise(0L)), lit(0L)).as("near"),
      coalesce(sum(when(col("keep_quality") && !col("exact_dup") && !col("near_dup") && !col("contaminated"), 1L).otherwise(0L)), lit(0L)).as("decon"),
      coalesce(sum(when(col("keep_quality") && !col("exact_dup") && !col("near_dup") && !col("contaminated") && col("lm_ok"), 1L).otherwise(0L)), lit(0L)).as("lm"),
      coalesce(sum(when(col("keep_quality") && !col("exact_dup") && !col("near_dup") && !col("contaminated") && col("lm_ok") && col("keep_sample"), 1L).otherwise(0L)), lit(0L)).as("sampled")
    ).collect()(0)

    // survivors → BUDGET SELECTION (the materialization step that emits
    // the curated training set: per source, quality-ranked prefix under
    // the tiered token target). CurationQueries.budgetSelect runs m11's
    // rule eagerly on range buckets; the oracle checks m11's lazy plan,
    // and BudgetSelectParitySpec pins the two equal row for row. It stores
    // nothing, so the three reads below share one cache
    val survivors = funnel.filter(
      col("keep_quality") && !col("exact_dup") && !col("near_dup") && !col("contaminated") && col("lm_ok") && col("keep_sample"))
    val selected = CurationQueries.budgetSelect(
      survivors.select(col("doc_id"), col("source"), col("n_tokens").as("nt"), col("qi")),
      graft.queries.PipelineFns.autoSegments(spark)).cache()
    // token accounting for the artifact: kept tokens vs tiered targets —
    // the selection CONTRACT (kept ≤ target per source) asserted, not
    // assumed
    val budgetRows = selected.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("kept_tokens"),
        max(col("target_tokens")).as("target_tokens")).collect()
    budgetRows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3),
        s"budget leg overflow: ${r.getString(0)} kept ${r.getLong(2)} > target ${r.getLong(3)}")
    }
    val budgetSelected = budgetRows.map(_.getLong(1)).sum
    val budgetTokens = budgetRows.map(_.getLong(2)).sum
    val budgetTargets = budgetRows.map(_.getLong(3)).sum

    // selected set → offset-based sequence packing (t8 shape)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // coalesce: sum over zero groups is null when every doc was gated out
    val packs = selected
      .withColumn("start_offset", sum(col("nt")).over(w) - col("nt"))
      .withColumn("pack_id", (col("start_offset") / 4096L).cast("long"))
      .groupBy(col("source")).agg(countDistinct(col("pack_id")).as("n_packs"))
      .agg(coalesce(sum(col("n_packs")), lit(0L))).collect()(0).getLong(0)

    // export stage: the budget-selected set as size-bounded parquet shards
    // (the training export shape — bounded files regardless of skew); one
    // writer per budget bucket, so the shard count follows the buckets
    val outDir = args.lift(2).getOrElse("/tmp/graft_corpus_demo/packed")
    selected.select(col("doc_id"), col("source"), col("nt").as("n_tokens"), col("qi"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 500)
      .parquet(outDir)
    // shard count via the FS the write actually targeted (portable to any
    // defaultFS, unlike a driver-local listFiles)
    val nShards = spark.read.parquet(outDir)
      .select(input_file_name()).distinct().count()

    val secs = (System.nanoTime() - t0) / 1e9
    val n = stages.getLong(0)
    println(f"[corpus] funnel: input=${n} quality=${stages.getLong(1)} " +
      f"exact=${stages.getLong(2)} near=${stages.getLong(3)} decon=${stages.getLong(4)} " +
      f"lm=${stages.getLong(5)} sampled=${stages.getLong(6)} " +
      f"budget_selected=$budgetSelected (tokens $budgetTokens <= targets $budgetTargets) " +
      f"packs=$packs shards=$nShards")
    println(f"[corpus] $n%d docs in $secs%.1f s (${n / secs}%.0f docs/s)")
    // upsert keyed on (src, copies): the demo-scale and ×10 funnel lines
    // coexist in one artifact instead of clobbering each other. The key
    // INCLUDES the comma after the copies number: upsertLine matches by
    // substring, and a bare `"copies":32` also matches `"copies":320` —
    // a copies=32 refresh silently deleted the copies=320 capacity line
    // before the terminator was added.
    val key = s""""src":${Artifacts.jsonStr(sfDir)},"copies":$copies,"""
    Artifacts.upsertLine(Artifacts.outPath("throughput_corpus.json"), key,
      f"""{"metric":"corpus_docs_per_s",$key%s"value":${n / secs}%.0f,"docs":$n%d,"quality":${stages.getLong(1)}%d,"exact":${stages.getLong(2)}%d,"near":${stages.getLong(3)}%d,"decon":${stages.getLong(4)}%d,"lm":${stages.getLong(5)}%d,"sampled":${stages.getLong(6)}%d,"budget_selected":$budgetSelected%d,"budget_tokens":$budgetTokens%d,"budget_targets":$budgetTargets%d,"packs":$packs%d,"sec":$secs%.1f}""")
    selected.unpersist()
    funnel.unpersist()
    sig.unpersist()
    spark.stop()
  }
}
