package graft.queries

import graft.SparkEntry
import graft.vlm.SparkSpec

/** Physical-plan shape assertions: the properties that make these queries
  * scale (filter pushdown, column pruning, broadcast choices, no cartesian
  * blowups) must survive refactors. Asserted on the optimizer's initial
  * plan at sf0.001 — the shapes are data-size-independent except where AQE
  * would only improve them (e.g. promote a sort-merge join to broadcast).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("s1_scan_prune pushes filters and prunes columns at the parquet scan") {
    val p = plan("s1_scan_prune")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    // the scan must not read the wide comment column it doesn't project
    assert(!p.contains("l_comment"), p)
  }

  test("j1_broadcast_dim broadcasts the dimension side") {
    val p = plan("j1_broadcast_dim")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("j5_semi_join plans a left-semi join, j_anti_join a left-anti join") {
    assert(plan("j5_semi_join").contains("LeftSemi"))
    assert(plan("j_anti_join").contains("LeftAnti"))
  }

  test("v1_knn_bruteforce broadcasts the query set (no shuffle of the corpus side)") {
    val p = plan("v1_knn_bruteforce")
    assert(p.contains("BroadcastExchange"), p)
  }

  // ("no query plans a cartesian product" moved into the PlanContracts
  // catalog sweep below — one build-once pass applies ALL universal rules)

  test("q1_agg does two-phase (partial then final) hash aggregation inside codegen") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // codegen stages only exist in the AQE final plan, after execution
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("*("), exec) // whole-stage-codegen stage markers
  }

  test("mm4_resize_plan reads only doc_id (payload/text pruned from the scan)") {
    val p = plan("mm4_resize_plan")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"), p)
  }

  test("d3_lsh_near_dup_pairs joins candidates on band buckets, not a cross join") {
    val p = plan("d3_lsh_near_dup_pairs")
    assert(p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("d3 band explode emits SKINNY rows — no signature columns ride the self-join") {
    // the round-18 shuffle fix: the band self-join's exchange payload is
    // (doc_id, band_idx, band) per exploded row; carrying the full band
    // signature (the old in-row first-shared-band dedup) amplified the
    // exchange ~27x over input at the capacity geometry (~2.5 GB/query
    // measured at x10). The explode's output width pins the property at
    // any preset: 1 carried column + 2 generator columns.
    val df = SparkEntry.queries("d3_lsh_near_dup_pairs")(spark, sf)
    val gens = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.nonEmpty, "expected a posexplode of band keys in d3's plan")
    gens.foreach { g =>
      assert(g.output.size <= 3,
        s"band explode carries ${g.output.size} columns (${g.output.map(_.name).mkString(", ")}) — wide rows on the self-join exchange")
    }
  }

  test("j_asof_recent_purchase plans NO join at all (merged-stream carry-forward)") {
    val p = plan("j_asof_recent_purchase")
    assert(!p.contains("Join"), p)
    // exactly one shuffle: the window partitioning on user_id (formatted
    // explain shows each node once in the tree and once in the details —
    // count the details headers)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
  }

  test("j_range_bucket broadcasts the bucket dimension (big side map-only)") {
    val p = plan("j_range_bucket")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("a_salted_skew_agg runs two aggregation stages (salt spread, then merge)") {
    val p = plan("a_salted_skew_agg")
    // partial+final per groupBy × 2 groupBys = at least 4 HashAggregates
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("v6_ivf_ann broadcasts the trained codebook and the probe set (no corpus-side shuffle joins beyond the cell join)") {
    val p = plan("v6_ivf_ann")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t7_repetition_quality and m6_stratified_sample plan NO shuffle (single-scan column programs)") {
    for (name <- Seq("t7_repetition_quality", "m6_stratified_sample")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
    }
  }

  test("d9_decontaminate broadcasts the benchmark shingle set into a left-semi join") {
    val p = plan("d9_decontaminate")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("t8_token_packing: segmented prefix sum — row-level window partitioned by (source, seg)") {
    // the two-level shape: the corpus-scale cumulative window must NOT
    // partition by source alone (one task per source); only the
    // metadata-scale offset window (ordered by the segment id) may
    val df = SparkEntry.queries("t8_token_packing")(spark, sf)
    val rowWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.orderSpec.exists(_.child.references.exists(_.name == "doc_id")) => w
    }
    assert(rowWindows.nonEmpty, "t8 lost its cumulative window")
    for (w <- rowWindows)
      assert(w.partitionSpec.size >= 2,
        s"t8 row-level window partitions only by ${w.partitionSpec}: one task per source")
    // the offsets ride back on a broadcast join — the corpus side must
    // never shuffle for it
    val p = plan("t8_token_packing")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t19_shuffled_shards: the GLOBAL prefix sum is segmented — no empty-partition one-task window over the corpus") {
    // t19's cumulative sum has NO natural partition key at all (global
    // seeded-hash order), so an unsegmented plan would funnel the whole
    // corpus through ONE task — the classic export bottleneck. The
    // corpus-scale window (ordered by the hash key) must carry the
    // segment key in its partitionSpec; only the metadata-scale offset
    // window (segments rows, ordered by __seg) may run partition-less.
    val df = SparkEntry.queries("t19_shuffled_shards")(spark, sf)
    val rowWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.orderSpec.exists(_.child.references.exists(_.name == "hkey")) => w
    }
    assert(rowWindows.nonEmpty, "t19 lost its cumulative window")
    for (w <- rowWindows)
      assert(w.partitionSpec.nonEmpty,
        s"t19 corpus window is partition-less: one task for the whole corpus")
    // segment offsets ride back on a broadcast join; no corpus sort-merge
    val p = plan("t19_shuffled_shards")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("g22/g23 AP sweeps: ONE explicit uncoalescible ti exchange (bounded-eval single-window path)") {
    // r18: the g-family eval set is PLAN-BOUNDED (l_orderkey <= 2000 caps
    // it at ~2000 frames × 7 lines at ANY corpus scale), so the sweeps
    // take the single-window cumulative-PR path — per-threshold windows
    // hold ≤ 14k rows forever. The contract that matters is therefore not
    // segmentation but PARALLELISM: the one ti exchange must be the
    // explicit repartition(bins, ti) (REPARTITION_BY_NUM — exempt from
    // AQE coalescing), because byte-based coalescing folded the tiny ti
    // shuffle into ONE task and serialized ~0.8 s of window machinery on
    // 1 of 32 cores. Every downstream op (groupBy(ti, frame_id), the four
    // windows, the final per-ti agg) reuses that single exchange. The
    // UNBOUNDED cumulative-prefix machinery keeps its segmented contract
    // via t8/t19/m11 and SegmentedParitySpec.
    for (name <- Seq("g22_ap_sweep", "g23_ap_add_sweep")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val rowWindows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.orderSpec.exists(_.child.references.exists(_.name == "frame_id")) => w
      }
      assert(rowWindows.nonEmpty, s"$name lost its cumulative windows")
      val p = plan(name)
      val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
      assert(exchanges == 1, s"$name should plan exactly 1 exchange, found $exchanges:\n$p")
      assert(p.contains("REPARTITION_BY_NUM"), s"$name lost the explicit ti repartition:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("t10_gopher_rules and t12_denylist_scrub plan NO shuffle (single-scan column programs)") {
    for (name <- Seq("t10_gopher_rules", "t12_denylist_scrub")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
    }
  }

  test("m11_budget_select: segmented prefix sum + broadcast budgets (no per-source-only window, no shuffle join)") {
    val df = SparkEntry.queries("m11_budget_select")(spark, sf)
    // the corpus-scale cumulative window must carry the segment key next
    // to source — partitioning by source alone caps parallelism at
    // #sources whatever the corpus size (same contract as t8)
    val rowWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.orderSpec.exists(_.child.references.exists(_.name == "negq")) => w
    }
    assert(rowWindows.nonEmpty, "m11 lost its cumulative window")
    for (w <- rowWindows)
      assert(w.partitionSpec.size >= 2,
        s"m11 row-level window partitions only by ${w.partitionSpec}: one task per source")
    // budgets and segment offsets join back via broadcast — the corpus
    // side never shuffles for them
    val p = plan("m11_budget_select")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m7_domain_mix: fold-and-explode totals — one corpus scan, no window, no join") {
    val p = plan("m7_domain_mix")
    // corpus totals via collect_list-fold-explode over the n_sources-row
    // aggregate: no Window node (an empty-partitionBy Window would funnel
    // all rows into one task), no stats self-join (which would re-scan
    // the corpus), exactly one parquet scan
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    // the per-source groupBy shuffle + the single-partition final-agg
    // exchange (n_sources rows, metadata-scale)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 2, p)
  }

  test("d10_hash_decontaminate broadcasts the 8-byte bench hash keys (training side map-only)") {
    val p = plan("d10_hash_decontaminate")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("v7_semdedup broadcasts the codebook; pair work stays inside cells (equi-join on cell)") {
    val p = plan("v7_semdedup")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("v8_pq_codes and v9_pq_adc broadcast the codebook / distance table (corpus side map-only into the agg)") {
    for (name <- Seq("v8_pq_codes", "v9_pq_adc")) {
      val p = plan(name)
      assert(p.contains("BroadcastExchange"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("v10_ivfpq_ann: every lookup side broadcast, no cartesian, candidate work confined to probed cells") {
    val p = plan("v10_ivfpq_ann")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t13_bpe_merge_candidates: two-level top-k (TakeOrdered), broadcast rank join, no global window") {
    val p = plan("t13_bpe_merge_candidates")
    // partial+final aggregation of the pair counts
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // global top-20 via per-partition top-k + k-row merge, NOT a
    // single-partition rank window
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
    // ranks come from the k×k broadcast self-join
    assert(p.contains("BroadcastExchange"), p)
    // the two TakeOrdered references share one corpus aggregation at
    // runtime: AQE must reuse the pair-count shuffle, not re-scan
    val df = SparkEntry.queries("t13_bpe_merge_candidates")(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      df.queryExecution.executedPlan.toString)
  }

  test("no query plans a partition-less Window (the funnel-everything-into-one-task shape)") {
    // the logical-plan version of the "No Partition Defined for Window"
    // runtime warning: an empty partitionSpec moves EVERY row to a single
    // task, which is a scale-killer whatever the current row count
    for (name <- SparkEntry.queries.keys) {
      val df = SparkEntry.queries(name)(spark, sf)
      val offenders = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(offenders.isEmpty, s"$name has a global window: ${offenders.mkString("; ")}")
    }
  }

  test("j_range_rewrite plans a hash equi-join on the bucket key (no nested loop)") {
    val p = plan("j_range_rewrite")
    assert(p.contains("graft_bucket"), p) // the rewrite fired
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  /** Node id → (header, detail block) of a formatted plan. */
  private def planNodes(p: String): Map[Int, (String, String)] =
    """(?ms)^\((\d+)\) ([^\n\[]*?)\s*(?:\[codegen id : \d+\])?\n(.*?)(?=^\(\d+\) |\z)""".r
      .findAllMatchIn(p).map(m => m.group(1).toInt -> (m.group(2).trim, m.group(3))).toMap

  // query → the number of IvfCentroids.topK arms its result is built from
  private val topKArms = Seq(
    "v1_knn_bruteforce" -> 1, "v3_lsh_ann" -> 1, "v6_ivf_ann" -> 1, "v9_pq_adc" -> 1,
    "v10_ivfpq_ann" -> 1, "v11_ann_recall" -> 2, "v14_ivf_nprobe_sweep" -> 4,
    "v17_sq8_adc" -> 1, "v18_sq8_recall" -> 2, "v19_ivfsq8_ann" -> 1,
    "v22_filtered_ann" -> 1, "v23_filtered_recall" -> 2, "v24_adaptive_nprobe" -> 1,
    "v26_rare_label_dispatch" -> 2, "v27_mass_coverage_router" -> 2,
    "v28_calibrated_probe_depth" -> 1)

  test("topK pre-reduces: WindowGroupLimit below every rank exchange") {
    // every per-query top-k (the `rk` row_number of IvfCentroids.topK) must
    // shuffle only partial top-k rows (k × n_queries per input partition),
    // never the full corpus×queries candidate expansion: its Window sits on
    // Final WindowGroupLimit ← Sort ← Exchange ← Partial WindowGroupLimit
    // (unary chain, so the formatted plan numbers it consecutively)
    for ((name, arms) <- topKArms) {
      val p = plan(name)
      val nodes = planNodes(p)
      val rankWindows = nodes.collect {
        case (id, ("Window", body)) if body.contains(" AS rk#") => id
      }.toSeq
      assert(rankWindows.size >= arms, s"$name: ${rankWindows.size} rank windows < $arms arms\n$p")
      for (id <- rankWindows) {
        val chain = (1 to 4).map(i => nodes.get(id - i).map(_._1).getOrElse("?"))
        assert(chain == Seq("WindowGroupLimit", "Sort", "Exchange", "WindowGroupLimit"),
          s"$name: rank window ($id) sits on ${chain.mkString(" <- ")}\n$p")
      }
    }
  }

  test("v11_ann_recall pre-reduces per partition: WindowGroupLimit below every rank exchange") {
    // both the exact and approx top-5 sides must shuffle only partial
    // top-k rows (k × n_queries per input partition), never the full
    // corpus×queries candidate expansion
    val p = plan("v11_ann_recall")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4, p) // partial + final, × 2 sides
  }

  test("v18_sq8_recall: both arms pre-reduce with WindowGroupLimit partial top-k") {
    val p = plan("v18_sq8_recall")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4, p) // partial + final, × 2 arms
  }

  test("v17_sq8_adc: broadcast stats + query set, partial top-k, map-only corpus side") {
    // the 1-row per-dim stats and the 10-query set both broadcast; the
    // corpus side encodes/reconstructs map-only; the rank<=3 filter runs
    // as WindowGroupLimit so only top-k partials reach the rank exchange
    val p = plan("v17_sq8_adc")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("w1_rank_topk benefits from WindowGroupLimit (partial top-k before the shuffle)") {
    // rank()<=k filters should trigger Spark's window-group-limit
    // optimization: a per-partition partial top-k runs BELOW the exchange,
    // so only k-ish rows per group shuffle instead of every row
    val p = plan("w1_rank_topk")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("v12_cluster_balanced_sample: cached assignment scan, quota pre-reduced below the rank exchange") {
    val p = plan("v12_cluster_balanced_sample")
    // r18: the codebook broadcast this test used to grep for lived in the
    // assignment cache's BUILD lineage, which the old InMemoryRelation
    // rendered inline — the truncated (localCheckpoint-backed) cache no
    // longer prints its one-time build, so the contract pins what the
    // query itself executes: a read of the shared assignment cache …
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
    // … with rk <= quota over row_number rewritten to a per-partition
    // partial top-k below the cell exchange — only ~quota rows per input
    // partition shuffle, whatever the corpus size
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("d16_contamination_fraction broadcasts the benchmark shingles (training side map-only)") {
    val p = plan("d16_contamination_fraction")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d17_fuzzy_decontaminate broadcasts the eval side (bands and shingle sets); no sort-merge join") {
    val p = plan("d17_fuzzy_decontaminate")
    // the eval side is eval-set-sized at any corpus scale: both its band
    // rows (candidate join) and its shingle sets (Jaccard verify) must be
    // the broadcast build sides, so the training corpus streams map-only
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("v13_semantic_decontaminate: broadcast eval vectors, partial-agg argmax, no window") {
    val p = plan("v13_semantic_decontaminate")
    assert(p.contains("BroadcastExchange"), p)
    // the per-vector argmax must partial-aggregate below the exchange (one
    // row per corpus vector through the shuffle, never the n×|eval|
    // cross), and never a corpus-wide window. The struct-max buffer rules
    // out HashAggregate, so Spark plans a partial+final SortAggregate pair
    // — assert the pair, whichever aggregate implementation carries it.
    assert("(Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p).size >= 2, p)
    val lines = p.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(l => l.contains("+- Exchange"))
    val partialIdx = lines.lastIndexWhere(l => "Aggregate".r.findFirstIn(l).isDefined)
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"no partial aggregate below the exchange\n$p")
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("mm7_phash_near_dup: chunk-bucketed equi self-join, no cartesian") {
    val p = plan("mm7_phash_near_dup")
    // hamming<=3 search must enter via the 14-bit-chunk equi-join keys —
    // a cartesian or theta-only join would be the quadratic anti-shape
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("chunk"), p)
  }

  test("PlanContracts: flagship shape rules hold at the demo preset") {
    // the same contract object PlanAudit runs per-preset in its own JVM
    // (GraftConfig.active is frozen at class load, so the 100tb-geometry
    // run can't live in this suite); demo coverage belongs here
    val violations = graft.PlanContracts.check(spark, sf)
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("PlanContracts: universal catalog rules hold for all queries at the demo preset") {
    // full-catalog sweep (r8 verdict ask): no CartesianProduct, no
    // partition-less Window, no uncapped off-spine global Sort, no
    // single-partition exchange — for every catalog entry, with deliberate
    // exceptions forced through the justified allowlist
    val cache = new graft.PlanContracts.PlanCache(spark, sf)
    val (violations, allowed) = graft.PlanContracts.checkCatalog(spark, sf, cache)
    assert(violations.isEmpty, violations.mkString("\n"))
    // every allowlist entry must actually FIRE — a stale exception is a
    // rule silently not being checked
    val fired = allowed.map { case (v, _) => v.query }.toSet
    val listed = graft.PlanContracts.Allow.keys.map(_._1).toSet
    assert(listed == fired, s"stale allowlist entries: ${listed -- fired}")
  }

  test("v20_centroid_drift: broadcast centroids; top-10 is TakeOrderedAndProject, not a global sort/window") {
    val p = plan("v20_centroid_drift")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("v21_drift_reseed keeps v20's shape: one partial-agg shuffle, broadcast centroids, top-k merge") {
    // the reseed must ADD no distributed work over the audit: same
    // LongVecSum partial aggregate (the only corpus-scale stage), same
    // broadcast codebook join, same per-partition top-k — the residual
    // arithmetic rides the ≤ numCells post-shuffle rows
    val p = plan("v21_drift_reseed")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"reseed grew the shuffle count: $shuffles\n$p")
  }

  test("v22_filtered_ann: broadcast probe routing; label predicate applied before the rank window") {
    val p = plan("v22_filtered_ann")
    // the probe table (nQueries × nprobe rows) must broadcast — a
    // shuffled probe join would serialize serving on the corpus side
    assert(p.contains("BroadcastExchange"), p)
    // top-3 per query is the partial top-k, not a global sort
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"), p)
    // the label equality must sit UNDER the window (pre-filter): no
    // Filter above the Window node may mention the label columns
    val df = SparkEntry.queries("v22_filtered_ann")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    val windowNode = opt.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windowNode.isDefined, opt.toString)
    def filtersAbove(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        stop: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
      if (plan eq stop) Seq.empty
      else plan match {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.sql +: plan.children.flatMap(filtersAbove(_, stop))
        case _ => plan.children.flatMap(filtersAbove(_, stop))
      }
    val above = filtersAbove(opt, windowNode.get)
    assert(!above.exists(_.contains("label")),
      s"label predicate leaked above the rank window: $above")
  }

  test("u7/u8 MVCC reads: partial-aggregated supersede; pk-partitioned (never global) history window") {
    // u7's struct-buffer max_by cannot HashAggregate — Spark plans a
    // partial+final SortAggregate pair, and the PARTIAL below the exchange
    // is the property that keeps the shuffle one-candidate-per-(partition,
    // key) instead of log-sized (bench-discipline memo, round 10)
    val p7 = plan("u7_mvcc_read")
    assert(p7.contains("SortAggregate"), p7)
    assert("(?i)partial".r.findFirstIn(p7).isDefined, p7)
    // u8's lead window must key on the pk — partition-less would serialize
    // the whole log through one task (the catalog-wide RuleGlobalWindow
    // audit also covers this; the explicit logical check pins WHICH key)
    val df8 = SparkEntry.queries("u8_scd2_history")(spark, sf)
    val wins = df8.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, df8.queryExecution.optimizedPlan.toString)
    assert(wins.forall(_.partitionSpec.exists(_.references.exists(_.name == "doc_id"))),
      wins.map(_.partitionSpec).mkString(","))
  }

  test("no checked query emits a DECIMAL output column") {
    // Engine-side mirror of the tools/check.py assertion: r1 (12) and r2 (14)
    // driver hash failures were all and only decimal-typed outputs, even when
    // pinned to DECIMAL(38,s) on both engines; in r3 the probe_hash_decimal
    // negative control alone hash-failed while its bigint/double twins passed,
    // pinning the root cause. Finals must be scaled BIGINTs or rounded
    // doubles; decimals stay internal-only.
    import org.apache.spark.sql.types.DecimalType
    for (name <- SparkEntry.queries.keys) {
      val schema = SparkEntry.queries(name)(spark, sf).schema
      val decCols = schema.fields.collect { case f if f.dataType.isInstanceOf[DecimalType] => f.name }
      assert(decCols.isEmpty, s"$name emits DECIMAL columns ${decCols.toSeq} — use scaled BIGINT or rounded double")
    }
  }
}
