package graft

import org.apache.spark.sql.functions._

/** Incremental dedup ingest, driven end-to-end — the batch-fold side of
  * the streaming band-claim guard ([[graft.queries.DedupQueries.incrementalNearDup]],
  * parity-spec'd in IncrementalDedupSpec) run as a real multi-batch ingest
  * with the claim store persisted to band-partitioned parquet between
  * batches, the way a production incremental pipeline checkpoints it.
  *
  * The corpus arrives in `nBatches` disjoint slices (doc_id mod), followed
  * by one REPLAY batch — the first slice's content re-crawled under fresh
  * doc_ids. Per batch the artifact records docs in, docs kept, store rows
  * before/after, and wall seconds. The claim it evidences: store growth
  * tracks NOVEL band buckets, not ingest volume — slices of fresh content
  * grow the store roughly with their distinct-content mass, and the replay
  * batch grows it by (near) zero while keeping (near) zero docs, because
  * every bucket it touches is already claimed. That is the sublinear-state
  * story that lets the guard run unbounded ingest at a bounded store.
  *
  *   runMain graft.IncrementalDemo [sfDir] [nBatches] [workDir]
  */
object IncrementalDemo {

  /** The band-claim store's empty frame — ONE definition of the schema
    * the dedup guard checkpoints between batches/days (a store-schema
    * change edits exactly this).
    */
  private def emptyClaimStore(spark: org.apache.spark.sql.SparkSession) =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("band_idx", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("band", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("rep", org.apache.spark.sql.types.LongType))))

  private def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime(); val a = f; (a, (System.nanoTime() - t) / 1e9)
  }

  /** Spread an under-split corpus scan to core width (the AnnDemo /
    * shingleSetsWide precedent): byte-based file packing reads a ×10
    * synthesized corpus (~175 MB) as 1–2 partitions, and the CPU-dense
    * per-doc work downstream — the dedup guard's 128-slice signature
    * pass, stubEmbed's per-dim hashing — then runs on 1–2 of 32 cores
    * (profiled: the guard was 57–66 of each leg's day-0 seconds at ×10
    * before this). One cheap shuffle of the skinny rows buys full width;
    * at production split counts the branch never fires.
    */
  private def spreadToCores(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par, col("doc_id")) else df
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Every plan node under `p`, descending through AQE wrappers and query
    * stages (the adaptive FINAL plan — call only after an action ran).
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => planNodes(q.plan)
    case _ => p.children.flatMap(planNodes)
  })

  /** Count exchanges (shuffle OR broadcast) sitting between a scan of the
    * bucketed claim-store table and the first join above it — the plan
    * contract behind the bucketed store: the STORE side of the claim join
    * must co-locate off its bucket layout, so nothing may move it before
    * the join consumes it (only the new batch's skinny claims shuffle).
    * Exchanges ABOVE a join shuffle join output — claims-derived, not the
    * store — so the count resets at every multi-child node on the way
    * down. A scan is "the store's" when its relation reads the store
    * table's path.
    */
  private def storeSideExchanges(df: org.apache.spark.sql.DataFrame,
      storePath: String): Int = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan, pending: Int): Int = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(storePath)) =>
        pending
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan, pending)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan, pending)
      case e: org.apache.spark.sql.execution.exchange.Exchange =>
        e.children.map(walk(_, pending + 1)).sum
      case other =>
        val next = if (other.children.size > 1) 0 else pending
        other.children.map(walk(_, next)).sum
    }
    walk(df.queryExecution.executedPlan, 0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(3)
    val workDir = args.lift(2).getOrElse("/tmp/graft_incremental")
    val spark = GraftSession.builder()
      // the bucketed claim-store tables below live in the session catalog
      // with external data paths under workDir; the warehouse dir only
      // backs the default database's metadata and must stay out of the repo
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()

    val docs = spreadToCores(spark,
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1

    val emptyStore = emptyClaimStore(spark)

    // batch b = fresh slice b; final batch = slice 0 replayed under new ids
    def batch(b: Int) =
      if (b < nBatches) docs.filter(col("doc_id") % nBatches === b)
      else docs.filter(col("doc_id") % nBatches === 0)
        .select((col("doc_id") + lit(maxId)).as("doc_id"), col("text"))

    val records = Seq.newBuilder[String]
    // the store checkpoints as a BUCKETED external table on the claim key
    // (band_idx, band) — the co-location the incrementalNearDup scale note
    // promises, now executable: the store side of every claim join reads
    // its bucket layout in place and only the new batch's skinny claims
    // shuffle (asserted per batch via storeSideExchanges == 0). The
    // bucket count follows the session's dir-sizing rule so the bucketed
    // partitioning is at least the join's expected shuffle count at any
    // corpus scale (the shingleSetsWide precedent — a smaller count gets
    // re-shuffled up to AQE's initialPartitionNum and the layout buys
    // nothing). At 100 TB this is the same table written by a catalog
    // (metastore) job; here the session catalog carries the bucket spec.
    val par = spark.sparkContext.defaultParallelism
    val nBuckets = math.max(par, GraftSession.initialPartitions(
      GraftSession.dirBytes(sfDir, Some(spark.sparkContext.hadoopConfiguration)), par))
    var storeTable: Option[(String, String)] = None // (table name, data path)
    var storeRows = 0L
    // broadcast off for THIS leg only (restored below): at demo scale the
    // store fits the broadcast threshold and stats would broadcast it,
    // which trivially satisfies — and so never exercises — the bucket
    // co-location the contract is about; at 100 TB the store outgrows any
    // threshold and the bucketed join IS the plan, so the leg pins that
    // plan shape at test scale too
    val priorBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (b <- 0 to nBatches) {
      val t0 = System.nanoTime()
      val in = batch(b)
      val store = storeTable
        .map { case (t, _) => spark.table(t)
          .select(col("band_idx").cast("int"), col("band"), col("rep")) }
        .getOrElse(emptyStore)
      val (kept, updated) = graft.queries.DedupQueries.incrementalNearDup(in, store)
      val nextPath = s"$workDir/store_b$b"
      val nextTable = s"claim_store_b$b"
      spark.sql(s"DROP TABLE IF EXISTS $nextTable")
      updated.write.mode("overwrite")
        .bucketBy(nBuckets, "band_idx", "band")
        .option("path", nextPath).saveAsTable(nextTable)
      val nIn = in.count()
      val nKept = kept.count()
      // plan contract, checked on the executed (adaptive-final) plan of
      // the batch's keep decision: once the store is a bucketed table
      // (b >= 1), no shuffle exchange may sit on its side of the claim
      // join — the store co-locates, the claims move to it
      val storeEx = storeTable.map { case (_, p) => storeSideExchanges(kept, p) }
      storeEx.foreach(n => assert(n == 0,
        s"batch $b: $n shuffle exchange(s) on the bucketed store side"))
      val newRows = spark.table(nextTable).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val label = if (b < nBatches) "fresh" else "replay"
      records += f"""{"batch":$b,"kind":"$label","docs_in":$nIn,"kept":$nKept,"dropped":${nIn - nKept},"store_rows_before":$storeRows,"store_rows_after":$newRows,"store_growth":${newRows - storeRows},"store_side_exchanges":${storeEx.fold("null")(_.toString)},"sec":$sec%.2f}"""
      println(f"[incremental] batch $b ($label): in=$nIn kept=$nKept store $storeRows -> $newRows store_ex=${storeEx.fold("-")(_.toString)} (${sec}%.2f s)")
      storeTable = Some((nextTable, nextPath))
      storeRows = newRows
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBroadcast)
    val line =
      s"""{"metric":"incremental_dedup","sf":${Artifacts.jsonStr(sfDir)},"batches":${nBatches + 1},"store_buckets":$nBuckets,"store_bucketed":true,"per_batch":[${records.result().mkString(",")}]}"""
    // per-sf upsert (like leg 2): a capacity-corpus run must not overwrite
    // the sf0.1 record — the artifact carries one line per corpus
    Artifacts.upsertLine(Artifacts.outPath("incremental_dedup_last.json"),
      s""""sf":${Artifacts.jsonStr(sfDir)}""", line)

    // ---- leg 2: the COMPOSED incremental story (snapshot diff → delta
    // slice → dedup guard → embed/assign → index merge). Two regimes:
    //  - the TOPICAL leg (3 consecutive days, ~1–2%/day): a re-crawl of a
    //    few sources — cell-local by embedding locality — with the
    //    pk→cell catalog folded forward each day, so day-2 tombstones
    //    carry day-1 coordinates; merge file-pruning shows touched ≪ total
    //  - the SCATTERED leg (10% uniform-random delta, single day): the
    //    adversarial regime where deltas hit every cell span — honest
    //    contrast, file-pruning cannot help here and the artifact says so
    //  - the SOURCE-ADD leg: a new source lands and its row/column of the
    //    cross-source overlap matrix (d22's sketch) is emitted by FOLDING
    //    the new source's MinHash signature into the persisted signature
    //    table — mergeable state, no rescan of old sources
    val legs = Seq(topicalLeg(spark, sfDir, workDir, nDays = 3), deltaLeg(spark, sfDir, workDir, 20),
      overlapLeg(spark, sfDir, workDir))
    val pipeLine =
      s"""{"metric":"incremental_pipeline","sf":${Artifacts.jsonStr(sfDir)},"legs":[${legs.mkString(",")}]}"""
    Artifacts.upsertLine(Artifacts.outPath("incremental_pipeline_last.json"),
      s""""sf":${Artifacts.jsonStr(sfDir)}""", pipeLine)
    spark.stop()
    println(line)
    println(pipeLine)
    Console.out.flush()
  }

  /** The TOPICAL multi-day leg — the flagship composed story run as a
    * production loop, `nDays` consecutive daily increments against one
    * persistent serving state (claim store + 64-file IVF layout + pk→cell
    * catalog over 256 cells):
    *
    *  - each day a few SOURCES are re-crawled: the docs of 2 fresh cells
    *    plus the cells yesterday's topic-movers landed in (so moved docs
    *    get re-edited — the case that catches a stale catalog);
    *  - most edits keep the document's opening (body suffix appended) —
    *    by embedding locality (stubEmbed's topic-prefix base) the
    *    re-embedded doc re-routes to its own cell, so the merge's
    *    touched-file set is the re-crawl's cell set, not the corpus:
    *    merge_files_rewritten ≪ merge_files_total is the measured claim;
    *  - ~1/23 of changed docs get their OPENING rewritten (topic change)
    *    and relocate to a fresh random cell — the cross-cell move whose
    *    NEXT edit requires the catalog fold-back
    *    ([[graft.queries.IncrementalPipeline.updateCatalog]] runs after
    *    every merge; with a day-0-frozen catalog, day 2's tombstones for
    *    re-moved docs would name day-0 cells, match no resident row, and
    *    the row-accounting assert below would trip);
    *  - per day: row accounting `rowsAfter == rowsPrior − tombs + assigned`
    *    MUST hold exactly (asserted), and the catalog advances with the
    *    index;
    *  - the v24 ROUTER HISTOGRAM (per-(cell, label) candidate counts —
    *    the metadata adaptive-nprobe picks probe counts from) advances by
    *    the same victims/assigned delta via
    *    [[graft.queries.IncrementalPipeline.updateHistogram]] and is
    *    asserted equal to a recompute from the live index every day —
    *    the serving-metadata twin of the row-accounting invariant;
    *  - before the FINAL day, the loop runs live codebook maintenance:
    *    the v20-rule drift audit picks the top-10 drifted cells, the v21
    *    local Lloyd step re-centers them ([[graft.queries.IvfCentroids
    *    .reseedDrifted]], membership kept), and the result publishes as a
    *    new codebook REVISION — a reader pinned to the old revision is
    *    asserted byte-identical across the publish, and the final day
    *    ingests against the new revision with row accounting still exact:
    *    reader/writer isolation across a codebook rev inside the loop.
    */
  private def topicalLeg(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      workDir: String, nDays: Int): String = {
    import graft.queries.{DedupQueries, IncrementalPipeline, IvfCentroids}
    import org.apache.spark.sql.DataFrame
    val dim = GraftConfig.active.dim
    val numCells = 256
    val leg = s"$workDir/pipe_topical"
    val docs = spreadToCores(spark,
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"))
    val nCorpus = docs.count()
    // file COUNT scales with the corpus at ~constant file size (64 files
    // at the 5k-doc sf0.1 corpus), the way a production layout holds
    // ~512 MB files however big the table — pruning ratios then carry
    // across scales instead of degrading as fixed files grow ×N fatter
    val numFiles = math.max(64, (nCorpus / 78L).toInt)

    // ---- day-0 state (setup, amortized over every later day). Every
    // stage carries its own timer into the artifact's `day0_profile`
    // (round-15 ask: day-0 at the ×10 topical leg read 1031 s with no
    // attribution), and `assigned0` — previously a LAZY lineage whose
    // three consumers (layout write, catalog write, histogram) each
    // re-executed guard→embed→assign end to end — is materialized once.
    val t0setup = System.nanoTime()
    var tStage = System.nanoTime()
    def stage(): Double = {
      val s = (System.nanoTime() - tStage) / 1e9; tStage = System.nanoTime(); s
    }
    var prior = docs.localCheckpoint(eager = true)
    val ckptS = stage()
    val emptyStore = emptyClaimStore(spark)
    // the index holds the GUARD-KEPT corpus from day 0 on, so the daily
    // path and the base state share one dedup semantics: a kept doc owns
    // every band bucket it touches (rep == itself), which is exactly what
    // lets its future re-crawls pass the guard as self-updates instead of
    // being dropped as duplicates of their own prior version
    val (kept0Raw, store0) = DedupQueries.incrementalNearDup(prior, emptyStore)
    val kept0 = kept0Raw.localCheckpoint(eager = true)
    var storePath = s"$leg/store_d0"
    store0.write.mode("overwrite").partitionBy("band_idx").parquet(storePath)
    val guardS = stage()
    // materialize the embedding ONCE: stubEmbed hashes the full text per
    // dim (the deliberate topical-locality fixture), and its lazy lineage
    // feeds the seed cap, the argmin's distance side, AND the payload
    // join-back — profiled at ~4 end-to-end re-executions (57 of the 61 s
    // day-0 total) before this checkpoint
    val vecs0 = IncrementalPipeline.stubEmbed(kept0, dim).localCheckpoint(eager = true)
    val cent = IvfCentroids.cappedSeed(vecs0, numCells).localCheckpoint(eager = true)
    val assigned0 = IvfCentroids.assign(vecs0, cent, Seq("q"))
      .select("vec_id", "q", "cell").localCheckpoint(eager = true)
    val assignS = stage()
    val listsPath = s"$leg/lists"
    graft.layout.Layout.writeIvfClustered(assigned0, listsPath, numFiles)
    val layoutS = stage()
    var catalogPath = s"$leg/catalog_d0"
    assigned0.select("vec_id", "cell").write.mode("overwrite").parquet(catalogPath)
    // the v24 ROUTER HISTOGRAM, maintained by this same loop: per-(cell,
    // label) candidate counts, label derived from the document's OPENING
    // (so a topic-mover's rewrite changes its label — the adaptive-nprobe
    // predicate the histogram routes is exactly this kind of
    // content-derived facet). Day 0 builds it from the indexed corpus;
    // every later day advances it by the merge's own delta
    // (IncrementalPipeline.updateHistogram) and AUDITS the fold against a
    // recompute from the live index — the demo-scale proof that the
    // metadata-scale fold tracks the corpus-scale truth. Persisted like
    // the catalog: a metadata-scale parquet beside the lists.
    def labelOf(c: DataFrame) = c.select(col("doc_id").as("vec_id"),
      pmod(xxhash64(element_at(split(col("text"), " "), 1)), lit(8L)).as("label"))
    var histPath = s"$leg/hist_d0"
    assigned0.select("vec_id", "cell").join(labelOf(kept0), Seq("vec_id"))
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n_cl"))
      .write.mode("overwrite").parquet(histPath)
    // the d21/d22 OVERLAP GOVERNANCE MATRIX, maintained by this same loop
    // (round-17: previously only the source-ADD leg proved the fold; the
    // matrix must also stay current under the normal day-N churn). The
    // doc→source map is day-0 metadata (a re-crawl edits text, never
    // provenance); per-source sketch signatures are a pure function of
    // the source's LIVE docs, so a day's maintenance recomputes ONLY the
    // churned sources' rows (in production a directory-pruned read of
    // those sources' partitions — the source-add leg measures exactly
    // that boundedness) and keeps every unaffected source's stored row.
    // A min-FOLD cannot serve here: min is insert-only, and a re-crawled
    // doc's old shingles must leave its source's signature — replace-per-
    // affected-source is the correct mergeable-state maintenance under
    // churn, and the daily audit (maintained == whole-corpus recompute)
    // is the same demo-scale proof discipline as the histogram's.
    val docSrc = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").localCheckpoint(eager = true)
    var sigPath = s"$leg/overlap_sigs_d0"
    DedupQueries.sourceSketchSignatures(prior.join(docSrc, Seq("doc_id")))
      .write.mode("overwrite").parquet(sigPath)
    val metaS = stage()
    // the codebook serves through its VERSIONED publication (rev 1 = the
    // day-0 seed): the mid-loop drift re-seed below bumps the revision and
    // every later day assigns against the new one, while a reader pinned
    // to the old revision keeps its files through the publish
    val cbPath = s"$leg/codebook"
    IvfCentroids.publish(cent, cbPath)
    def loadCbArr() = IvfCentroids.loadCurrent(spark, cbPath).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    var codebookArr = loadCbArr()
    val publishS = stage()
    val setupS = (System.nanoTime() - t0setup) / 1e9
    val day0Profile =
      s""""day0_profile":{"ckpt_s":${fmt(ckptS)},"guard_s":${fmt(guardS)},""" +
        s""""embed_assign_s":${fmt(assignS)},"layout_s":${fmt(layoutS)},""" +
        s""""catalog_hist_s":${fmt(metaS)},"publish_s":${fmt(publishS)}},"""

    var movers: Seq[Long] = Seq.empty // yesterday's topic-movers (driver-side, ≤ dozens)
    var rowsPrior = graft.layout.Layout.readIvfLists(spark, listsPath).count()
    val dayRecords = Seq.newBuilder[String]
    var reseedRecord = ""

    for (d <- 1 to nDays) {
      // MID-LOOP DRIFT RE-SEED (before the final day's ingest): the v20
      // audit's rule finds the most drifted cells, the v21 local Lloyd
      // step re-centers them (membership kept — zero list I/O), and the
      // new codebook publishes as rev 2 — a reader pinned to rev 1 before
      // the publish keeps reading byte-identical centroids after it
      // (asserted here; the retention spec pins the grace window), while
      // the REST OF THIS LOOP ingests against rev 2: writer and readers
      // cross a codebook revision inside one live maintenance loop.
      if (d == nDays) {
        val tRs = System.nanoTime()
        val lists = graft.layout.Layout.readIvfLists(spark, listsPath)
          .select("vec_id", "q", "cell")
        val cbCur = IvfCentroids.loadCurrent(spark, cbPath)
        val revBefore = IvfCentroids.currentRevision(spark, cbPath)
        def pinnedRows() = spark.read.parquet(s"$cbPath/v$revBefore").collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1).toSeq
        val pinBefore = pinnedRows() // a reader resolves rev N pre-publish
        val (newCb, drifted) = IvfCentroids.reseedDrifted(lists, cbCur, topK = 10)
        val nReseeded = drifted.count()
        val driftBefore = drifted.agg(coalesce(sum(col("drift")), lit(0L)))
          .head().getLong(0)
        val revAfter = IvfCentroids.publish(newCb, cbPath)
        // reader/writer isolation across the revision bump: the pinned
        // reader's centroids are untouched by the rev N+1 publish
        assert(pinnedRows() == pinBefore,
          s"reader pinned to codebook rev $revBefore saw the rev $revAfter publish")
        // residual excess of the reseeded cells under the NEW codebook
        // (exactly 0: the step sets cq := floor-mean, recomputed honestly)
        val (_, after) = IvfCentroids.reseedDrifted(
          lists, IvfCentroids.loadCurrent(spark, cbPath), topK = 10)
        val driftAfter = after.join(drifted.select("cid"), Seq("cid"), "left_semi")
          .agg(coalesce(sum(col("drift")), lit(0L))).head().getLong(0)
        codebookArr = loadCbArr() // today's ingest assigns against rev 2
        // ---- CALIBRATION REFRESH (round-17 ask #4). The dense tier's
        // calibrated probe depth (the v28 rule) is a function of the
        // index GEOMETRY — the revision bump above moved the reseeded
        // centroids, which reorders every query's cell-probe ranking —
        // so nothing computed at build time stays valid across a reseed.
        // Maintenance therefore re-runs the calibration against the NEW
        // codebook (|cal| bounded exact-GT passes — the same cost class
        // as the histogram audit) and asserts the refreshed depth still
        // serves its recall target against the live index BEFORE any day
        // ingests on rev 2: the v28 twin of hist_consistent /
        // sketch_consistent. The serve leg is the real check — it reads
        // probe order, router labels, and list membership together, so a
        // stale codebook or a histogram/label drift trips it even though
        // the chosen depth meets the target on the curve by construction
        // (an unreachable target escalates to all cells = exact scan).
        val tCal = System.nanoTime()
        val liveLab = lists.join(labelOf(prior), Seq("vec_id"))
          .localCheckpoint(eager = true)
        def il2(a: Array[Long], b: Array[Long]): Long = {
          var s = 0L; var i = 0
          while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }; s
        }
        val calK = 3
        val calRows = liveLab.orderBy(col("vec_id")).limit(8)
          .select("vec_id", "q", "label").collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
        val calLegs = calRows.map { case (qid, qq, qlab) =>
          val qlit = array(qq.map(lit): _*)
          def topK(frame: DataFrame) = frame
            .filter(col("label") === qlab && col("vec_id") =!= qid)
            .withColumn("adist", graft.functions.longDot(col("q"), col("q")) -
              lit(2L) * graft.functions.longDot(col("q"), qlit))
            .orderBy(col("adist").asc, col("vec_id").asc).limit(calK)
            .select("vec_id", "cell").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          val gt = topK(liveLab)
          // np needed per GT neighbor = its cell's rank in the NEW
          // codebook's exact probe order (the v28 "needs" construction)
          val ranked = codebookArr.map { case (cid, cq) => (il2(qq, cq), cid) }
            .sorted.map(_._2)
          val rank = ranked.zipWithIndex.toMap
          (qid, qq, qlab, gt, gt.map { case (_, c) => rank(c) + 1 }, ranked)
        }
        val needs = calLegs.flatMap(_._5)
        val calGrid = (Seq(2, 4, 8, 16, 32, 64, 128).filter(_ < numCells)
          :+ numCells).distinct
        // integer-numerator target test (coverage >= 0.8), one grid step
        // of margin past the smallest covering depth — the v28 contract
        val minNp = calGrid.find(np => needs.count(_ <= np) * 5 >= needs.length * 4)
          .getOrElse(numCells)
        val npCal = calGrid.find(_ > minNp).getOrElse(numCells)
        // serve the calibration set at the refreshed depth on the LIVE
        // index and count exact-GT hits — served coverage, not curve math
        val servedHits = calLegs.map { case (qid, qq, qlab, gt, _, ranked) =>
          val probed = ranked.take(npCal).map(Long.box)
          val qlit = array(qq.map(lit): _*)
          val ids = liveLab.filter(col("cell").isin(probed: _*))
            .filter(col("label") === qlab && col("vec_id") =!= qid)
            .withColumn("adist", graft.functions.longDot(col("q"), col("q")) -
              lit(2L) * graft.functions.longDot(col("q"), qlit))
            .orderBy(col("adist").asc, col("vec_id").asc).limit(calK)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          gt.count { case (id, _) => ids.contains(id) }
        }.sum
        val calTotal = calLegs.map(_._4.length).sum
        val calConsistent = servedHits * 5 >= calTotal * 4
        assert(calConsistent, s"post-reseed calibration under target: " +
          s"$servedHits/$calTotal GT neighbors served at np_cal=$npCal")
        val calS = (System.nanoTime() - tCal) / 1e9
        val rsS = (System.nanoTime() - tRs) / 1e9
        println(s"[incremental] reseed before day $d: rev $revBefore -> $revAfter " +
          s"cells=$nReseeded drift $driftBefore -> $driftAfter " +
          s"np_cal=$npCal served=$servedHits/$calTotal (${fmt(rsS)} s)")
        reseedRecord =
          s""""reseed":{"before_day":$d,"rev_before":$revBefore,"rev_after":$revAfter,""" +
            s""""cells_reseeded":$nReseeded,"drift_excess_before":$driftBefore,""" +
            s""""drift_excess_after":$driftAfter,"pinned_reader_isolated":true,""" +
            s""""np_cal":$npCal,"cal_queries":${calRows.length},"cal_gt":$calTotal,""" +
            s""""cal_served_hits":$servedHits,"cal_consistent":$calConsistent,""" +
            s""""cal_s":${fmt(calS)},"reseed_s":${fmt(rsS)}},"""
      }
      val tDay = System.nanoTime()
      val catalog = spark.read.parquet(catalogPath)
      // the day's re-crawled sources: 2 fresh cells (deterministic walk)
      // ∪ the cells yesterday's movers landed in (≤ 2, from the CURRENT
      // catalog — the coordinates only the fold-back keeps fresh)
      val allCells = catalog.select("cell").distinct()
        .collect().map(_.getLong(0)).sorted
      val fresh = Seq(allCells(((d * 37) % allCells.length).toInt),
        allCells(((d * 37 + 11) % allCells.length).toInt)).distinct
      val moverCells =
        if (movers.isEmpty) Seq.empty[Long]
        else catalog.filter(col("vec_id").isin(movers.map(Long.box): _*))
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq.sorted.take(2)
      val pickCells = (fresh ++ moverCells).distinct
      val changedIds = catalog.filter(col("cell").isin(pickCells.map(Long.box): _*))
        .select(col("vec_id").as("doc_id")).distinct().localCheckpoint(eager = true)
      val nChanged = changedIds.count()
      // today's corpus: re-crawled docs get a body suffix (opening kept →
      // same topic → same cell); every ~23rd becomes a topic-MOVER (its
      // opening rewritten → relocates to a fresh random cell — each mover
      // is one extra touched span, so the rate sets the pruning ceiling)
      val isMover = pmod(col("doc_id"), lit(23L)) === 3
      val cur = prior.join(changedIds.withColumn("hit", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("hit").isNotNull && isMover, concat(lit(s"rewrite $d "), col("text")))
            .when(col("hit").isNotNull, concat(col("text"), lit(s" v$d")))
            .otherwise(col("text")).as("text"))
        .localCheckpoint(eager = true)
      movers = changedIds.filter(isMover).collect().map(_.getLong(0)).toSeq

      // the daily pipeline: diff → slice → guard → embed/assign → upsert
      val (diff, diffS) = timed {
        IncrementalPipeline.snapshotDiff(cur, prior).localCheckpoint(eager = true)
      }
      val (delta, sliceS) = timed {
        IncrementalPipeline.deltaSlice(cur, diff).localCheckpoint(eager = true)
      }
      val nDelta = delta.count()
      val storeR = spark.read.parquet(storePath)
        .select(col("band_idx").cast("int"), col("band"), col("rep"))
      val ((kept, nKept), guardS) = timed {
        val (keptF, updated) = DedupQueries.incrementalNearDup(delta, storeR)
        val next = s"$leg/store_d$d"
        updated.write.mode("overwrite").partitionBy("band_idx").parquet(next)
        storePath = next
        (keptF.localCheckpoint(eager = true), keptF.count())
      }
      val (deltaAssigned, assignS) = timed {
        graft.streaming.StreamingOps.assignVectors(
            IncrementalPipeline.stubEmbed(kept, dim), codebookArr)
          .select("vec_id", "q", "cell")
          .localCheckpoint(eager = true)
      }
      val nAssigned = deltaAssigned.count()
      val victims = diff.filter(col("change_class").isin("changed", "removed"))
        .select(col("doc_id").as("vec_id"))
      val tombstones = catalog.join(victims, Seq("vec_id"), "left_semi")
        .localCheckpoint(eager = true)
      val nTombs = tombstones.count()
      val ((filesRewritten, filesTotal), mergeS) = timed {
        graft.layout.Layout.mergeIvfDeltaUpsert(spark, listsPath, deltaAssigned, tombstones)
      }
      val rowsAfter = graft.layout.Layout.readIvfLists(spark, listsPath).count()
      assert(rowsAfter == rowsPrior - nTombs + nAssigned,
        s"day $d row accounting: $rowsPrior - $nTombs + $nAssigned != $rowsAfter " +
          "(a stale pk→cell catalog shows up here as a missed supersede)")
      // fold the day back into the catalog — the step that keeps day d+1's
      // tombstones pointing at TODAY's cells
      val nextCatalog = s"$leg/catalog_d$d"
      IncrementalPipeline.updateCatalog(catalog, tombstones, deltaAssigned)
        .write.mode("overwrite").parquet(nextCatalog)
      catalogPath = nextCatalog
      val catalogRows = spark.read.parquet(catalogPath).count()
      assert(catalogRows == rowsAfter,
        s"day $d catalog drifted from the index: $catalogRows != $rowsAfter")
      // advance the router histogram by the SAME delta the merge applied:
      // victims decrement at their catalog cell under YESTERDAY's label
      // (the label their old vector was inserted under — a mover's label
      // changes with its opening, so old and new coordinates differ in
      // both axes), the kept delta increments at its new (cell, label).
      // The fold touches delta-sized and histogram-sized tables only; the
      // recompute below is the demo-scale AUDIT, not the maintenance path.
      // (The drift re-seed is invisible here by construction: v21 keeps
      // cell MEMBERSHIP, so the histogram's coordinates don't move.)
      val victimsH = tombstones.join(labelOf(prior), Seq("vec_id"))
      val assignedH = deltaAssigned.select("vec_id", "cell")
        .join(labelOf(cur), Seq("vec_id"))
      val histNext = IncrementalPipeline.updateHistogram(
        spark.read.parquet(histPath), victimsH, assignedH)
      val nextHist = s"$leg/hist_d$d"
      histNext.write.mode("overwrite").parquet(nextHist)
      histPath = nextHist
      val histRows = spark.read.parquet(histPath)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val histTruth = graft.layout.Layout.readIvfLists(spark, listsPath)
        .select("vec_id", "cell").join(labelOf(cur), Seq("vec_id"))
        .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n_cl"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(histRows == histTruth,
        s"day $d router histogram diverged from the live index (${histRows.size} vs ${histTruth.size} rows)")
      // overlap-matrix maintenance (see the day-0 comment): recompute the
      // CHURNED sources' signature rows from today's corpus, keep every
      // unaffected stored row, re-emit the refreshed matrix — then audit
      // the maintained table against a whole-corpus recompute, the
      // sketch twin of the histogram assert above
      val affectedSrc = changedIds.join(docSrc, Seq("doc_id"))
        .select("source").distinct().localCheckpoint(eager = true)
      val nAffectedSrc = affectedSrc.count()
      val curSrc = cur.join(docSrc, Seq("doc_id"))
      val sigMaintained = spark.read.parquet(sigPath)
        .join(affectedSrc, Seq("source"), "left_anti")
        .unionByName(DedupQueries.sourceSketchSignatures(
          curSrc.join(affectedSrc, Seq("source"), "left_semi")))
      val nextSig = s"$leg/overlap_sigs_d$d"
      sigMaintained.write.mode("overwrite").parquet(nextSig)
      sigPath = nextSig
      val sigStored = spark.read.parquet(sigPath)
      // collect the (bounded, per-source) affected set ONCE and reuse it in
      // both isin filters — the inline form collected it twice per day
      // (round-17 advice)
      val affectedNames = affectedSrc.collect().map(_.getString(0))
      val matrixPairs = DedupQueries.overlapMatrixFromSignatures(sigStored)
        .filter(col("source_a").isin(affectedNames.toIndexedSeq: _*) ||
          col("source_b").isin(affectedNames.toIndexedSeq: _*))
        .count()
      def canonSig(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
      val sketchConsistent =
        canonSig(sigStored) == canonSig(DedupQueries.sourceSketchSignatures(curSrc))
      assert(sketchConsistent,
        s"day $d overlap sketch diverged from whole-corpus recompute")
      prior = cur
      rowsPrior = rowsAfter
      val daySec = (System.nanoTime() - tDay) / 1e9
      println(s"[incremental] topical day $d: cells=${pickCells.mkString("/")} " +
        s"changed=$nChanged movers=${movers.size} assigned=$nAssigned tombs=$nTombs " +
        s"merge $filesRewritten/$filesTotal (${fmt(daySec)} s)")
      dayRecords +=
        s"""{"day":$d,"picked_cells":${pickCells.length},"changed":$nChanged,""" +
          s""""movers":${movers.size},"delta_rows":$nDelta,"kept":$nKept,""" +
          s""""assigned":$nAssigned,"tombstones":$nTombs,""" +
          s""""merge_files_rewritten":$filesRewritten,"merge_files_total":$filesTotal,""" +
          s""""index_rows_after":$rowsAfter,"catalog_rows":$catalogRows,""" +
          s""""hist_rows":${histRows.size},"hist_consistent":true,""" +
          s""""overlap":{"sources_affected":$nAffectedSrc,""" +
          s""""matrix_pairs_refreshed":$matrixPairs,"sketch_consistent":true},""" +
          s""""diff_s":${fmt(diffS)},"slice_s":${fmt(sliceS)},"guard_s":${fmt(guardS)},""" +
          s""""assign_s":${fmt(assignS)},"merge_s":${fmt(mergeS)},"day_s":${fmt(daySec)}}"""
    }
    // END-OF-WINDOW MAINTENANCE: in-place compaction through the same
    // manifest (Layout.compactIvfInPlace) — heals the file-grain drift a
    // merge-only regime accumulates (per-span size skew; byte-target
    // drift as the corpus evolves) with NO reader path switch: the
    // serving path keeps resolving the same directory and sees the
    // compacted snapshot at the manifest flip. Row identity asserted.
    val tCp = System.nanoTime()
    val rowsBeforeCompact = graft.layout.Layout.readIvfLists(spark, listsPath).count()
    val (filesBefore, filesAfter) = graft.layout.Layout.compactIvfInPlace(spark, listsPath,
      targetFileBytes = math.max(1L, graft.layout.Layout.liveBytes(spark, listsPath) / 16))
    val rowsAfterCompact = graft.layout.Layout.readIvfLists(spark, listsPath).count()
    assert(rowsAfterCompact == rowsBeforeCompact,
      s"in-place compaction changed the row count: $rowsBeforeCompact -> $rowsAfterCompact")
    val compactS = (System.nanoTime() - tCp) / 1e9
    println(s"[incremental] end-of-window compact: files $filesBefore -> $filesAfter " +
      s"rows=$rowsAfterCompact (${fmt(compactS)} s)")
    // …followed by the crash-orphan GC sweep ([[graft.layout.Layout
    // .gcOrphans]]): the standalone reclaim a maintenance scheduler runs
    // on its own cadence for residue a killed writer left between
    // rename-in and commit. A healthy loop reclaims ZERO paths — that 0
    // is the committed evidence the merge/compaction protocol leaks
    // nothing — and the snapshot must be untouched either way. (Grace
    // window left at default: anything it would sweep here would be a
    // protocol leak, not staged work.)
    val gcReclaimed = graft.layout.Layout.gcOrphans(spark, listsPath)
    val rowsAfterGc = graft.layout.Layout.readIvfLists(spark, listsPath).count()
    assert(rowsAfterGc == rowsAfterCompact,
      s"gcOrphans disturbed the live snapshot: $rowsAfterCompact -> $rowsAfterGc")
    println(s"[incremental] end-of-window gcOrphans: reclaimed=$gcReclaimed (expect 0 when healthy)")

    s"""{"kind":"topical_3day","corpus_rows":$nCorpus,"num_cells":$numCells,""" +
      s""""num_files":$numFiles,"day0_setup_s":${fmt(setupS)},$day0Profile$reseedRecord""" +
      s""""compact":{"files_before":$filesBefore,"files_after":$filesAfter,""" +
      s""""rows_unchanged":true,"compact_s":${fmt(compactS)}},""" +
      s""""gc_orphans_reclaimed":$gcReclaimed,""" +
      s""""days":[${dayRecords.result().mkString(",")}]}"""
  }

  /** The SOURCE-ADD overlap leg — the incremental half of the d21/d22
    * cross-source overlap matrix: when a new source lands, its row/column
    * of the matrix is produced by FOLDING its per-source MinHash sketch
    * signature ([[graft.queries.DedupQueries.sourceSketchSignatures]])
    * into a persisted signature table
    * ([[graft.queries.DedupQueries.mergeSketchSignatures]] — element-wise
    * min, the same mergeable-state shape as the v25 router-histogram
    * fold), WITHOUT rescanning old sources. Day-0 setup builds the table
    * over the resident corpus (|sources|−1 rows × 128 longs — metadata);
    * the timed fold reads ONLY the new source's docs (a source-partitioned
    * corpus prunes at the directory level; here the leaf-scan metric
    * records the rows actually read) plus the signature table, and the
    * updated matrix row falls out of signature agreement on |sources|
    * rows. Fold == recompute is asserted in-leg (and spec-pinned in
    * DedupSketchSpec): the folded table must equal a whole-corpus
    * signature rebuild EXACTLY — min-merge loses nothing.
    */
  private def overlapLeg(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      workDir: String): String = {
    import graft.queries.DedupQueries
    val leg = s"$workDir/pipe_overlap"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), col("text"))
    val sources = docs.select("source").distinct()
      .orderBy("source").collect().map(_.getString(0)).toSeq
    val newSource = sources.last
    val corpusRows = docs.count()

    // ---- day-0 state: the corpus in its PRODUCTION layout — partitioned
    // by source, so a single-source read prunes at the directory level
    // (the flat sf parquet is one row group at demo scale, where no
    // physical pruning is possible and the bounded-read claim would be
    // unmeasurable) — plus the signature table over the resident sources
    val t0 = System.nanoTime()
    val bySrcPath = s"$leg/docs_by_source"
    docs.write.mode("overwrite").partitionBy("source").parquet(bySrcPath)
    val docsPart = spark.read.parquet(bySrcPath).select(col("source"), col("text"))
    val sigPath = s"$leg/sigs_d0"
    DedupQueries.sourceSketchSignatures(docsPart.filter(col("source") =!= newSource))
      .write.mode("overwrite").parquet(sigPath)
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- the source-add: signature of ONLY the new source's docs, folded
    // into the stored table; leaf-scan rows measured on this job's own
    // execution (the bytes-bounded claim, made auditable)
    val newDocs = docsPart.filter(col("source") === newSource)
    val stored = spark.read.parquet(sigPath)
    val ((foldedRows, rowsScanned), foldS) = timed {
      val folded = DedupQueries.mergeSketchSignatures(
        stored, DedupQueries.sourceSketchSignatures(newDocs))
      folded.write.mode("overwrite").parquet(s"$leg/sigs_d1")
      val written = spark.read.parquet(s"$leg/sigs_d1")
      // rows the fold's document scan actually produced: re-execute the
      // new-source scan bare and read ITS OWN execution's leaf metric
      // (collect(), not a noop write — a write action plans a separate
      // execution whose metrics never land on this Dataset's plan; the
      // bare scan+filter has no exchange, so the non-adaptive plan's
      // leaves carry the count — the AnnDemo scan-metric discipline).
      // The `source =` PartitionFilter on the by-source layout is what
      // bounds it (directory pruning); new-source rows are delta-sized
      // by definition, so the collect is bounded too.
      val scan = docsPart.filter(col("source") === newSource)
      scan.collect()
      val scanned = scan.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      (written.count(), scanned)
    }
    // the updated matrix row: pairs involving the new source only
    val sigsD1 = spark.read.parquet(s"$leg/sigs_d1")
    val newRow = DedupQueries.overlapMatrixFromSignatures(sigsD1)
      .filter(col("source_a") === newSource || col("source_b") === newSource)
    val nPairs = newRow.count()
    // FOLD == RECOMPUTE: the folded signature table must equal a
    // whole-corpus rebuild exactly (sorted driver-side compare on
    // |sources| metadata rows)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
    val recomputed = DedupQueries.sourceSketchSignatures(docs)
    assert(canon(sigsD1) == canon(recomputed),
      "overlap fold diverged from whole-corpus signature recompute")
    val newSourceRows = newDocs.count()
    println(s"[incremental] overlap source-add: sources=${sources.size} " +
      s"new=$newSource rows_scanned=$rowsScanned/$corpusRows pairs=$nPairs (${fmt(foldS)} s)")
    s"""{"kind":"overlap_source_add","sources":${sources.size},""" +
      s""""new_source":${Artifacts.jsonStr(newSource)},"new_source_rows":$newSourceRows,""" +
      s""""corpus_rows":$corpusRows,"rows_scanned":$rowsScanned,""" +
      s""""sig_rows":$foldedRows,"matrix_pairs_emitted":$nPairs,""" +
      s""""fold_equals_recompute":true,"day0_setup_s":${fmt(setupS)},"fold_s":${fmt(foldS)}}"""
  }

  /** One composed-pipeline leg at delta fraction 2/mod (doc_id % mod == 0
    * → added, == 1 → changed): build yesterday's state (claim store +
    * IVF inverted-list layout over the prior corpus — day-0 setup,
    * reported separately, amortized over every subsequent day), then run
    * the daily increment and record rows-processed per stage. The
    * pipeline order is the production funnel: diff first (the only
    * corpus-scale stage — one co-partitioned hash merge), dedup-guard the
    * delta, embed/assign only the kept survivors, then UPSERT the
    * assigned vectors into the serving layout via
    * [[graft.layout.Layout.mergeIvfDeltaUpsert]] — the changed docs' old
    * vectors are tombstoned by their `(vec_id, cell)` coordinates from
    * the day-0 pk→cell catalog in the SAME staged commit the new ones
    * land in, so the index holds exactly one live vector per doc
    * (O(touched-files) I/O, manifest-committed). Returns the leg's JSON.
    */
  private def deltaLeg(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      workDir: String, mod: Int): String = {
    import graft.queries.{DedupQueries, IncrementalPipeline, IvfCentroids}
    val dim = GraftConfig.active.dim
    val leg = s"$workDir/pipe_m$mod"
    val docs = spreadToCores(spark,
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"))
    val nCorpus = docs.count()

    // yesterday's snapshot: added slice absent, changed docs carry prior text
    val prior = docs.filter(pmod(col("doc_id"), lit(mod)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(mod)) === 1, concat(col("text"), lit("-v0")))
          .otherwise(col("text")).as("text"))

    // ---- day-0 state (setup, untimed in the daily story)
    val t0setup = System.nanoTime()
    var tStage = System.nanoTime()
    def stage(): Double = {
      val s = (System.nanoTime() - tStage) / 1e9; tStage = System.nanoTime(); s
    }
    val emptyStore = emptyClaimStore(spark)
    val (_, store0) = DedupQueries.incrementalNearDup(prior, emptyStore)
    val storePath = s"$leg/store0"
    store0.write.mode("overwrite").partitionBy("band_idx").parquet(storePath)
    val guard0S = stage()
    // embedding + assignment materialized once (the topical leg's day-0
    // profile lesson: a lazy stubEmbed lineage re-executes per consumer —
    // seed cap, argmin distance side, payload join-back, each writer)
    val vecs0 = IncrementalPipeline.stubEmbed(prior, dim).localCheckpoint(eager = true)
    val cent = IvfCentroids.cappedSeed(vecs0, GraftConfig.active.numCells)
      .localCheckpoint(eager = true)
    val assigned0 = IvfCentroids.assign(vecs0, cent, Seq("q"))
      .select("vec_id", "q", "cell").localCheckpoint(eager = true)
    val assign0S = stage()
    val listsPath = s"$leg/lists"
    graft.layout.Layout.writeIvfClustered(assigned0, listsPath, numFiles = 8)
    // the pk→cell catalog: the slim snapshot the supersede step consults
    // for victim coordinates (two columns; bucketed by vec_id at scale,
    // maintained by the same diff machinery as the text snapshots)
    val pkCellPath = s"$leg/pkcell"
    assigned0.select("vec_id", "cell").write.mode("overwrite").parquet(pkCellPath)
    val write0S = stage()
    val setupS = (System.nanoTime() - t0setup) / 1e9
    val day0Profile =
      s""""day0_profile":{"guard_s":${fmt(guard0S)},"embed_assign_s":${fmt(assign0S)},""" +
        s""""layout_catalog_s":${fmt(write0S)}},"""


    // ---- the daily increment
    // stage 1 (corpus-scale by necessity): content-hash snapshot diff
    val (diff, diffS) = timed {
      IncrementalPipeline.snapshotDiff(docs, prior).localCheckpoint(eager = true)
    }
    val diffCounts = diff.groupBy(col("change_class")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // stage 2: the delta slice — everything downstream sees ONLY these rows
    val (delta, sliceS) = timed {
      IncrementalPipeline.deltaSlice(docs, diff).localCheckpoint(eager = true)
    }
    val nDelta = delta.count()
    // stage 3: dedup guard over the delta against yesterday's claim store
    val store0r = spark.read.parquet(storePath)
      .select(col("band_idx").cast("int"), col("band"), col("rep"))
    val ((kept, nKept, growth), guardS) = timed {
      val (keptF, updated) = DedupQueries.incrementalNearDup(delta, store0r)
      (keptF, keptF.count(), updated.count() - store0r.count())
    }
    // stage 4: embed + preset-dispatched cell assignment, kept docs only
    val codebookArr = cent.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val (deltaAssigned, assignS) = timed {
      graft.streaming.StreamingOps.assignVectors(
          IncrementalPipeline.stubEmbed(kept, dim), codebookArr)
        .select("vec_id", "q", "cell")
        .localCheckpoint(eager = true)
    }
    val nAssigned = deltaAssigned.count()
    // stage 5: supersede-upsert into the serving layout — tombstones are
    // the changed∪removed docs' victim coordinates from the pk→cell
    // catalog (a broadcast-sized semi-join against the slim snapshot);
    // the merge drops them and lands the new vectors in one staged commit
    val ((filesRewritten, filesTotal, nTombs), mergeS) = timed {
      val victims = diff.filter(col("change_class").isin("changed", "removed"))
        .select(col("doc_id").as("vec_id"))
      val tombstones = spark.read.parquet(pkCellPath)
        .join(victims, Seq("vec_id"), "left_semi")
        .localCheckpoint(eager = true)
      val (rw, tot) = graft.layout.Layout.mergeIvfDeltaUpsert(
        spark, listsPath, deltaAssigned, tombstones)
      (rw, tot, tombstones.count())
    }
    val rowsAfter = graft.layout.Layout.readIvfLists(spark, listsPath).count()
    val rowsPrior = prior.count()
    assert(rowsAfter == rowsPrior - nTombs + nAssigned,
      s"upsert row accounting: $rowsPrior - $nTombs + $nAssigned != $rowsAfter")

    def cls(k: String) = diffCounts.getOrElse(k, 0L)
    println(s"[incremental] pipe mod=$mod: corpus=$nCorpus delta=$nDelta kept=$nKept " +
      s"assigned=$nAssigned tombs=$nTombs merge files $filesRewritten/$filesTotal")
    s"""{"delta_frac":${fmt(2.0 / mod)},"corpus_rows":$nCorpus,""" +
      s""""added":${cls("added")},"changed":${cls("changed")},"unchanged":${cls("unchanged")},""" +
      s""""diff_s":${fmt(diffS)},"delta_rows":$nDelta,"slice_s":${fmt(sliceS)},""" +
      s""""guard_rows_in":$nDelta,"guard_kept":$nKept,"store_growth":$growth,"guard_s":${fmt(guardS)},""" +
      s""""embed_rows_in":$nKept,"assign_rows_out":$nAssigned,"assign_s":${fmt(assignS)},""" +
      s""""tombstones":$nTombs,"merge_files_rewritten":$filesRewritten,"merge_files_total":$filesTotal,""" +
      s""""merge_s":${fmt(mergeS)},"index_rows_after":$rowsAfter,$day0Profile"day0_setup_s":${fmt(setupS)}}"""
  }
}
