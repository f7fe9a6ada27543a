package graft

import org.apache.spark.sql.functions._

/** End-to-end ANN serving demo — the IVF index lifecycle the query
  * catalog exercises piecewise, run as the three real jobs a production
  * deployment schedules:
  *
  *  1. INDEX BUILD: sampled-Lloyd codebook training persisted to parquet
  *     ([[graft.queries.IvfCentroids.save]]) + the corpus→cell assignment
  *     (preset-dispatched routing) — the expensive, once-per-corpus half.
  *  2. LAYOUT: the assigned corpus written as inverted lists
  *     ([[graft.layout.Layout.writeIvfClustered]] — disjoint per-file cell
  *     ranges), so probes have file-level locality.
  *  3. SERVING: nprobe cells per query, candidates confined to the probed
  *     cells via a pushed-down `cell IN (…)` literal filter (the query
  *     router knows its cells — NOT a join the scan can't prune on),
  *     exact cosine rerank, top-3.
  *
  * Geometry: the sf corpus is replicated ×`scale` (default 30 → 60k
  * vectors at sf0.1) so the index has real shape — 1000 cells across 128
  * files ≈ 7.8 cells/file, nprobe=10 → a query's candidate read maps to
  * ≤10 of 128 files (≥12.8× file skip). The pruning claim is MEASURED,
  * not listing math: `rows_read_1q` is the parquet scan's own
  * numOutputRows for a single query's serve — rows surviving footer
  * row-group skip — against `rows_total`. At this geometry each file is
  * one row group, so row-group skip IS file skip. (The 100 TB version of
  * the same math: 1e5 cells, ~6k files, nprobe=2 → ≲2 files per query.)
  *
  * All instrumentation (files touched, scan metrics, the nprobe sweep)
  * runs OUTSIDE the timed blocks; `probe_s` times exactly one serving
  * job: the 8-query batch's filter→rerank→top-3. The `nprobe_sweep`
  * array is the serving-knob table — recall@5 vs measured rows read per
  * nprobe ∈ {1,2,4,8,10,16} at this index's geometry — so the demo's
  * nprobe=10 choice and the 100 TB nprobe=2 math are justified by the
  * same committed artifact. One JSON line → `ann_demo_last.json`.
  *
  * The serving, sweep, SQ8 and filtered legs are compositions of the
  * IvfCentroids search core (probeRanking, the score kernels, topK) — the
  * same functions the v-family's catalog queries run under the oracle.
  *
  *   runMain graft.AnnDemo [sfDir] [workDir] [scale]
  *
  * Without a `workDir` the demo works in a fresh temp directory (the ×30
  * corpus, the codebook and every list layout) and deletes it on exit; a
  * given `workDir` is left in place.
  */
object AnnDemo {
  import graft.queries.IvfCentroids
  import graft.queries.IvfCentroids.{adist, probeRanking, topK, withAdist, withCos, withL2}
  import graft.layout.Layout
  import java.nio.file.{Files, Path, Paths}
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ownWorkDir = args.lift(1).isEmpty
    val workDir = args.lift(1).getOrElse(Files.createTempDirectory("graft-ann-demo").toString)
    val scale = args.lift(2).map(_.toInt).getOrElse(30)
    val spark = GraftSession.getOrCreate()
    val line =
      try run(spark, sfDir, workDir, scale)
      finally {
        spark.stop()
        if (ownWorkDir) deleteTree(Paths.get(workDir))
      }
    println(line)
    Console.out.flush()
  }

  private def deleteTree(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  /** Rows the parquet scan under `df` emitted after footer row-group skip:
    * the leaves' own numOutputRows from `df`'s execution (a bare
    * scan+filter has no exchange, so the plan is non-adaptive and the leaf
    * metrics live on this Dataset).
    */
  private def rowsScanned(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }

  /** The sorted cell ids of `df`. */
  private def cellsOf(df: DataFrame): Array[Long] =
    df.select("cell").collect().map(_.getLong(0)).sorted

  /** The k nearest rows of `cands` to one query vector `qq` (id `qid`,
    * excluded) by exact L2 — the driver-side router's per-query rerank.
    */
  private def nearest(cands: DataFrame, qid: Long, qq: Array[Long], k: Int): DataFrame =
    topK(cands.filter(col("vec_id") =!= qid).withColumn("query_id", lit(qid))
      .withColumn("adist", adist(col("q"), graft.functions.longDot(col("q"), col("q")),
        typedLit(qq), lit(qq.map(x => x * x).sum))), "adist", k, asc = true)

  private def run(spark: SparkSession, sfDir: String, workDir: String, scale: Int): String = {
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    // corpus prep (untimed): ×scale replication — the demo needs enough
    // vectors for a 1000-cell index with visible per-file cell locality
    if (scale > 1) ScaleBench.synthesize(spark, sfDir, s"$workDir/corpus", scale)
    val corpusDir = if (scale > 1) s"$workDir/corpus" else sfDir
    // SPREAD the corpus scan to core width before the distance-dense work
    // (the shingleSetsWide precedent): byte-based file packing folds the
    // synthesized ×30 corpus (~15 MB parquet) into 1–2 scan partitions,
    // and every downstream map-side job — the Lloyd rounds' sample×cent
    // argmin, the full-corpus assignment — inherits that width and runs
    // on 1 of 32 cores. THIS, not the flat-vs-routed dispatch, made the
    // build look preset-sensitive: the demo preset's 109.9 s build was
    // ~3e7 single-threaded distance rows (the 100tb preset's routed path
    // does 15× less work per row, which merely masked the under-split
    // scan). One cheap shuffle of the skinny rows buys full width; at
    // production split counts the branch never fires.
    val rawEmb = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val par = spark.sparkContext.defaultParallelism
    val spreadEmb =
      if (rawEmb.rdd.getNumPartitions < par) rawEmb.repartition(par, col("vec_id"))
      else rawEmb
    // ONE materialization for the demo's dozen consumers (build sample,
    // corpus assign — whose skinny-argmin + payload-join-back shape reads
    // its base twice — probe routing, sweeps): every later use is an
    // in-memory filter instead of a scan + quantize re-execution.
    val quantized = spreadEmb
      .select(col("vec_id"), graft.functions.quantizeVec(col("embedding"), 1000).as("q"))
      .localCheckpoint(eager = true)

    // 1. index build: trained codebook parquet + corpus→cell assignment.
    // Training is FLAT at every preset: routed Lloyd degrades the centroids
    // themselves, not just the routing — measured true-neighbor cell
    // coverage@np16 on this corpus: 2/24 routed-trained vs 12/24
    // flat-trained at the same routed assignment (and np1 recall 0.175
    // routed vs 0.525 flat). Flat
    // training is affordable at ANY corpus scale because Lloyd runs on the
    // BOUNDED sample (sampleMod; FAISS-style ~10²–10³ vectors per
    // centroid), so its cost is sample × C, not n × C — the corpus-sized
    // step is the final assignment, which keeps the preset's routed
    // multiprobe dispatch (ivfRouteWidth — see GraftConfig for the
    // measured W curve). build_profile carries the per-stage attribution
    // (seed / per-Lloyd-round / write) so the next regression is
    // diagnosable from the artifact alone.
    val routedTrain = false
    val ((seedS, roundS, writeS), buildS) = timed {
      IvfCentroids.saveProfiled(quantized, s"$workDir/codebook",
        k = 1000, iters = 2, sampleMod = 4, routed = routedTrain)
    }
    val codebook = IvfCentroids.load(spark, s"$workDir/codebook").cache()
    val nCells = codebook.count()
    val (assigned, assignS) = timed {
      val a = IvfCentroids.assign(
        quantized.withColumn("n2", graft.functions.longDot(col("q"), col("q"))),
        codebook, Seq("q", "n2")).cache()
      a.count()
      a
    }

    // 2. inverted-list layout
    val nFiles = 128
    val (_, layoutS) = timed {
      Layout.writeIvfClustered(assigned, s"$workDir/lists", nFiles)
    }
    val lists = spark.read.parquet(s"$workDir/lists")
    val filesTotal = lists.select(input_file_name()).distinct().count()
    val rowsTotal = lists.count()

    // probe routing (untimed index lookup prep): nprobe nearest cells per
    // query vector; the per-query cell lists are driver-side tiny
    // (nQueries × nprobe longs) — exactly what a query router holds.
    // Ranked to the sweep's MAX probe depth once; the serving table is the
    // prk<=nProbe slice, so sweep and serve share one routing pass.
    val nProbe = 10
    val nQueries = 8
    val sweepProbes = Seq(1, 2, 4, 8, 10, 16)
    val probesAll = probeRanking(quantized.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("q").as("qq"),
          graft.functions.longDot(col("q"), col("q")).as("qn2")), codebook)
      .filter(col("prk") <= sweepProbes.max)
      .cache()
    probesAll.count()
    val probes = probesAll.filter(col("prk") <= nProbe).drop("prk").cache()
    probes.count()
    val batchCells = cellsOf(probes.select("cell").distinct())
    val q1Cells = cellsOf(probes.filter(col("query_id") === 0))
    def inCells(df: DataFrame, cells: Seq[Long]) = df.filter(col("cell").isin(cells.map(Long.box): _*))

    // 3. serving, the timed job: literal cell filter (parquet-pushed, so
    // footer stats skip non-probed files' row groups) → broadcast-join the
    // probe table for rerank pairs → exact cosine → top-3 per query
    def candidates(src: DataFrame, cells: Seq[Long], probeTbl: DataFrame) =
      inCells(src, cells).join(broadcast(probeTbl), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
    val (topk, probeS) = timed {
      topK(withCos(candidates(lists, batchCells, probes)), "cos", 3, asc = false).count()
    }

    // instrumentation, all untimed:
    //  - a single query's candidate read with scan metrics: the same
    //    pushed `cell IN` filter the serve runs, on the bare scan+filter
    val rowsRead1q = rowsScanned(inCells(lists, q1Cells))
    //  - files contributing candidate rows, batch union + per-query
    val cand = lists.withColumn("src_file", input_file_name())
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
    val filesTouched = cand.select("src_file").distinct().count()
    val filesPerQuery = cand.groupBy("query_id")
      .agg(countDistinct(col("src_file")).as("nf"))
      .agg(avg(col("nf")), max(col("nf"))).head()
    val (fAvg, fMax) = (filesPerQuery.getDouble(0), filesPerQuery.getLong(1))

    //  - the SERVING-KNOB table (untimed): recall@5 + measured rows read
    //    per nprobe operating point, at THIS index's geometry — the v14
    //    sweep run where the knob is actually set, so the demo's
    //    nprobe=10 and the 100 TB math's nprobe=2 are justified by the
    //    same committed artifact. Ground truth = one exact brute-force
    //    pass over the corpus for the 8-query batch (bounded, untimed);
    //    each approx arm reuses the shared probe ranking, so the sweep's
    //    marginal cost is nprobe/C of the corpus per point.
    def top5(cands: DataFrame) =
      topK(withCos(cands), "cos", 5, asc = false).select(col("query_id"), col("vec_id"))
    val queriesTbl = probesAll.select(col("query_id"), col("qq"), col("qn2")).distinct()
    val exactTop = top5(
      assigned.join(broadcast(queriesTbl), col("vec_id") =!= col("query_id"))).cache()
    val nExact = exactTop.count() // nQueries × 5
    def recallOf(approxTop: DataFrame) =
      exactTop.join(approxTop, Seq("query_id", "vec_id"), "left_semi").count().toDouble / nExact
    val sweep = sweepProbes.map { np =>
      val probeN = probesAll.filter(col("prk") <= np)
      val approxTop = top5(lists
        .join(broadcast(probeN), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id")))
      // measured read cost at this operating point: the parquet scan's own
      // numOutputRows for query 0's pushed `cell IN` filter (row-group skip)
      (np, recallOf(approxTop), rowsScanned(inCells(lists, cellsOf(probeN.filter(col("query_id") === 0)))))
    }
    def fmt4(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val sweepJson = sweep.map { case (np, rec, rows) =>
      s"""{"nprobe":$np,"recall_at_5":${fmt4(rec)},"rows_read_1q":$rows}"""
    }.mkString("[", ",", "]")

    // 3b. SQ8 STORAGE TIER — the physical half of v17/v19: the same
    // cell-clustered inverted-list layout holding 8-bit codes packed to
    // ONE BYTE PER DIM (PackU8 → binary) instead of 64 longs, written
    // beside the raw lists. Serving dequantizes candidates on read (the
    // v17 affine round trip, integer-exact) and ranks by asymmetric L2.
    // The claim measured here: bytes moved per query drop ~linearly with
    // the storage width at near-equal recall (v18 bounds the distortion).
    // Byte accounting is the manifest's own listing math
    // (Layout.touchedFiles — per-file min-cell spans), the same numbers a
    // 100 TB query router computes per batch.
    val dim = codebook.head().getSeq[Long](1).size
    val sq8Stats = IvfCentroids.sq8Stats(assigned, dim)
    val sq8Path = s"$workDir/lists_sq8"
    val (_, layoutSq8S) = timed {
      val codes = assigned.crossJoin(broadcast(sq8Stats))
        .withColumn("code", graft.functions.packU8(
          IvfCentroids.sq8Encode(col("q"), col("mns"), col("rng"))))
        .select(col("vec_id"), col("cell"), col("code"))
      Layout.writeIvfClustered(codes, sq8Path, nFiles)
    }
    val listsSq8 = Layout.readIvfLists(spark, sq8Path)
    val sq8Candidates = withL2(candidates(listsSq8, batchCells, probes)
      .crossJoin(broadcast(sq8Stats))
      .withColumn("xh", IvfCentroids.sq8Decode(
        graft.functions.unpackU8(col("code")), col("mns"), col("rng"))), "qq", "xh", "adist")
    val (topkSq8, probeSq8S) = timed { topK(sq8Candidates, "adist", 3, asc = true).count() }
    // recall@5 of the SQ8 tier against the exact top-5 (untimed)
    val recallSq8 = recallOf(
      topK(sq8Candidates, "adist", 5, asc = true).select(col("query_id"), col("vec_id")))
    // byte accounting across THREE storage tiers at the same corpus state:
    //  - fp32: the raw-VECTOR serving state a float deployment stores
    //    (4 B/dim floats — the baseline the SQ8 compression claim is
    //    against; a float64 corpus doubles this width),
    //  - grid: the integer-grid q lists the relational rungs serve from
    //    (parquet bit-packs the 11-bit coords, so this tier is already
    //    ~compressed — the honest caveat on "8 B/dim longs"),
    //  - sq8: 1 B/dim packed codes.
    // Totals are live-manifest sums; per-query bytes are the manifest's
    // own span math (Layout.touchedFiles) for query 0's probed cells —
    // the same numbers a 100 TB query router computes per batch.
    val fpPath = s"$workDir/lists_fp32"
    Layout.writeIvfClustered(
      spark.read.parquet(s"$corpusDir/embeddings.parquet").select(col("vec_id"), col("embedding"))
        .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id")),
      fpPath, nFiles)
    val bytesTotalFp = Layout.liveBytes(spark, fpPath)
    val bytesRead1qFp = Layout.touchedFiles(spark, fpPath, q1Cells.toSeq).map(_._2).sum
    val bytesTotalRaw = Layout.liveBytes(spark, s"$workDir/lists")
    val bytesTotalSq8 = Layout.liveBytes(spark, sq8Path)
    val bytesRead1qRaw = Layout.touchedFiles(spark, s"$workDir/lists", q1Cells.toSeq).map(_._2).sum
    val bytesRead1qSq8 = Layout.touchedFiles(spark, sq8Path, q1Cells.toSeq).map(_._2).sum

    // 3c. FILTERED serving (the v22/v23 operator pair) against the
    // PREDICATE-PARTITIONED layout: one manifested cell-clustered layout
    // per label (Layout.writePartitionedIvf). The measured claim: the
    // partitioned path answers the same filtered query with ~1/|labels|
    // of the candidate I/O, because directory pruning removes the other
    // labels before any footer is read — versus the post-filter path,
    // which scans every probed cell's rows and discards the non-matching
    // labels after the read. Both paths must return IDENTICAL top-3 rows
    // (asserted): same candidates, same exact distances — only the bytes
    // differ.
    val labelsTbl = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    // FILE GRAIN RULE: a predicate-partitioned index keeps the same
    // CELLS-PER-FILE as the unpartitioned layout (not the same bytes per
    // file) — probe locality lives in cell space, so halving the file
    // count per partition would double every probe's row-group span and
    // quietly give the I/O win back. At capacity geometry both grains are
    // satisfiable at once (each label partition is still huge); at demo
    // scale the partition files are simply small.
    val byLabelPath = s"$workDir/lists_by_label"
    val (labelValues, layoutPartS) = timed {
      Layout.writePartitionedIvf(
        assigned.join(labelsTbl, Seq("vec_id")), byLabelPath, "label", nFiles)
    }
    val q0label = labelsTbl.filter(col("vec_id") === 0L).head().getInt(1)
    val probe0 = probes.filter(col("query_id") === 0L)
    def top3(cands: DataFrame) =
      topK(withAdist(cands), "adist", 3, asc = true)
        .select(col("vec_id"), col("adist"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // post-filter path: probed cells of the UNPARTITIONED lists, label
    // applied after the read
    val postTop = top3(candidates(lists, q1Cells, probe0)
      .join(labelsTbl, Seq("vec_id")).filter(col("label") === q0label))
    val rowsPost = rowsScanned(inCells(lists, q1Cells))
    // partitioned path: ONE label directory, probed cells inside it
    val partLists = Layout.readPartitionedIvf(spark, byLabelPath, "label", q0label)
    val partTop = top3(candidates(partLists, q1Cells, probe0))
    val rowsPart = rowsScanned(inCells(partLists, q1Cells))
    assert(postTop == partTop,
      s"partitioned filtered serving diverged: $postTop vs $partTop")
    // post-filter bytes = the unpartitioned probe read already measured
    // at the SQ8 rung (same manifest state — both precede the merge)
    val bytesPost = bytesRead1qRaw
    val bytesPart = Layout.touchedFiles(spark, s"$byLabelPath/label=$q0label", q1Cells.toSeq)
      .map(_._2).sum

    // 4. incremental maintenance: an ingest delta (the streaming
    // assignVectors path, batch-executed here) folds into the layout via
    // mergeIvfDelta — only the files whose cell span the delta lands in
    // are rewritten, and the probe keeps its pruning afterwards
    // a realistic ingest batch lands in a FEW cells (new content is
    // locally clustered), so the delta here re-ingests the residents of 5
    // known cells under fresh ids — assignVectors (the streaming seam,
    // preset-dispatched like the batch index build) routes them back to
    // those cells, and the merge should touch only those cells' files
    val maxVid = quantized.agg(max(col("vec_id"))).head().getLong(0)
    val codebookArr = codebook.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val deltaCellPick = q1Cells.take(5)
    val delta = graft.streaming.StreamingOps.assignVectors(
        assigned.filter(col("cell").isin(deltaCellPick.map(Long.box): _*))
          .select((col("vec_id") + maxVid + 1).as("vec_id"), col("q")),
        codebookArr)
      .withColumn("n2", graft.functions.longDot(col("q"), col("q")))
    val ((filesRewritten, filesAfter), mergeS) = timed {
      Layout.mergeIvfDelta(spark, s"$workDir/lists", delta)
    }
    // post-merge reads go through the manifest: the directory also holds
    // the GC-retention copy of the previous snapshot, which a raw dir
    // scan would double-count
    val listsAfter = Layout.readIvfLists(spark, s"$workDir/lists")
    val rowsAfter = listsAfter.count()
    val rowsRead1qAfter = rowsScanned(inCells(listsAfter, q1Cells))

    // 5. content UPDATE (the CDC shape): a third of the just-ingested
    // batch re-embeds — perturbed vectors route through the same
    // streaming assignment seam and UPSERT in, while the stale rows
    // tombstone out by their (vec_id, cell) coordinates in the SAME
    // staged commit (mergeIvfDeltaUpsert). The index must hold exactly
    // one live vector per doc afterwards: row count is unchanged by
    // construction, asserted below — an update is a replacement, not a
    // growth event.
    val updSlice = delta.filter(pmod(col("vec_id"), lit(3L)) === 0)
      .select(col("vec_id"), col("q"), col("cell")).localCheckpoint(eager = true)
    val tombstones = updSlice.select(col("vec_id"), col("cell"))
    val updVecs = graft.streaming.StreamingOps.assignVectors(
        updSlice.select(col("vec_id"),
          transform(col("q"), x => pmod(x + lit(7L), lit(2048L))).as("q")),
        codebookArr)
      .withColumn("n2", graft.functions.longDot(col("q"), col("q")))
    val nTombs = tombstones.count()
    val ((upsertRewritten, _), upsertS) = timed {
      Layout.mergeIvfDeltaUpsert(spark, s"$workDir/lists", updVecs, tombstones)
    }
    val afterUpsert = Layout.readIvfLists(spark, s"$workDir/lists")
    val rowsAfterUpsert = afterUpsert.count()
    assert(rowsAfterUpsert == rowsAfter,
      s"upsert must replace, not grow: $rowsAfter -> $rowsAfterUpsert")
    assert(afterUpsert.groupBy(col("vec_id")).count().filter(col("count") > 1).count() == 0,
      "index holds a duplicate live vector after upsert")

    // 6. DRIFT RE-SEED (v21 executed against the live serving state): the
    // deltas just merged/upserted have aged the codebook — audit per-cell
    // drift from ONE (count, Σq) partial-agg pass over the current lists,
    // take a local Lloyd step on the top-10 drifted cells (centroid :=
    // per-dim truncated mean, membership kept — zero list I/O, zero
    // reassignment), and PUBLISH the revised codebook through the
    // versioned marker commit (IvfCentroids.publish), so concurrent
    // readers keep resolving the old revision until the commit point.
    // O(drifted-cells) rows change; every other centroid is byte-carried.
    val (reseedJson, reseedS) = timed {
      val per = afterUpsert.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), graft.functions.LongVecSum.column(col("q")).as("sv"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
      val centMap = codebookArr.toMap
      def driftOf(n: Long, sv: Array[Long], c: Array[Long]): Double =
        c.zip(sv).map { case (ci, si) =>
          val r = ci.toDouble - si.toDouble / n; r * r
        }.sum
      val ranked = per.filter(t => centMap.contains(t._1))
        .map { case (cell, n, sv) => (cell, n, sv, driftOf(n, sv, centMap(cell))) }
        .sortBy(t => (-t._4, t._1)).take(10)
      val reseeded = ranked.map { case (cell, n, sv, _) =>
        cell -> sv.map(s => (s - s % n) / n) // trunc mean, the v21 step
      }.toMap
      val driftBefore = ranked.map(_._4).sum
      val driftAfter = ranked.map { case (cell, n, sv, _) =>
        driftOf(n, sv, reseeded(cell)) }.sum
      import spark.implicits._
      val cb2 = codebookArr.map { case (cid, cq) =>
        (cid, reseeded.getOrElse(cid, cq).toSeq) }.toDF("cid", "cq")
      val cbPath = s"$workDir/codebook_versions"
      IvfCentroids.publish(codebook.toDF("cid", "cq"), cbPath) // rev 1: pre-reseed
      val rev = IvfCentroids.publish(cb2, cbPath)              // rev 2: the commit
      assert(IvfCentroids.loadCurrent(spark, cbPath).count() == nCells)
      s""""reseed":{"cells":${ranked.length},"drift_before":${fmt(driftBefore)},""" +
        s""""drift_after":${fmt(driftAfter)},"codebook_rev":$rev,"rows_touched":${ranked.length}}"""
    }

    // 7. ADAPTIVE NPROBE + TIERED DISPATCH (the v24/v26 serving rules
    // measured across label selectivities): a synthetic skewed label
    // (rare 0.2% / mid ~5% / common ~95%) makes the filtered-ANN failure
    // mode measurable — at fixed nprobe a rare-label query's probed cells
    // hold fewer than k matches, so it returns short results; histogram
    // escalation (v24) restores k RESULTS but not the right ones for the
    // rare class, because a ~30-row class scattered over 1000 cells gives
    // IVF routing no signal (measured recall 0.0 at np 10→34).
    // The router therefore DISPATCHES on per-label mass (v26's rule): a
    // class whose candidate mass sits at or under the I/O break-even —
    // nprobe × average cell occupancy, the rows a FLOOR probe reads
    // anyway — is served from its own label-partitioned inverted lists
    // (exact within label, recall 1.0 by construction, rows read = the
    // partition's own rows); denser classes keep the adaptive-nprobe
    // rule, which is identical to fixed wherever fixed already yields k
    // and escalates exactly where it starves. Measured per class: the
    // tier chosen, np, results, recall@3 vs exact same-label brute
    // force, and rows read.
    // --- prep (untimed ROUTER/BUILD state): synthetic classes, router
    // metadata, and the rare tier's partitioned layout. The layout write
    // is INDEX-BUILD cost and is timed separately (adaptive_build_s), not
    // inside the timed serving block — the build-vs-serve separation Bench
    // enforces.
    val kAdapt = 3
    // MASS-COVERAGE target (the v27 rule): probe until the ranked-cell
    // prefix's cumulative same-class histogram mass reaches α·k, not
    // merely k — count coverage is blind to candidate QUALITY, and the
    // 100tb-preset run of this very demo measured the failure (mid class:
    // 3 candidates filled k at the np floor, recall 0.0 fixed AND
    // adaptive; the true neighbors sat one quantization boundary away).
    val massAlpha = 4
    val massCover = massAlpha * kAdapt
    val clsExpr = when(pmod(col("vec_id"), lit(1000L)) < 2, "rare")
      .when(pmod(col("vec_id"), lit(100L)) < 5, "mid").otherwise("common")
    val slabeled = assigned.select(col("vec_id"), col("q"), col("cell"), clsExpr.as("slabel"))
      .localCheckpoint(eager = true)
    // router metadata: per-(cell, slabel) histogram + per-cell row counts
    // (C × |classes| rows — the driver-side collect is the same bounded
    // metadata a 100 TB router holds broadcast)
    val histCl = slabeled.groupBy(col("cell"), col("slabel")).count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val cellRowCount = slabeled.groupBy(col("cell")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val classTotals = slabeled.groupBy(col("slabel")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the dispatch threshold, from the demo's own geometry: the rows a
    // floor-nprobe probe reads anyway (nprobe cells × average
    // occupancy) — a label partition at or under it is cheaper to scan
    // outright AND exact (v26's RareMass pins the same rule's semantics
    // under the oracle gate with a catalog-scale constant). The v27
    // extensions join it: a class whose available mass cannot COVER the
    // α·k target would escalate toward np = C for nothing, and a class
    // whose PER-CELL density avail/C sits below k gives cell routing no
    // label signal at ANY prefix depth (this demo measured the mid class
    // — 2.9 members/cell — at recall 0.0 fixed np16 AND mass-escalated;
    // its 2880-row partition costs about the np16 read for recall 1.0).
    // At capacity geometry k·C = 3e5 of 1e10 rows, so only genuinely
    // scattered classes qualify and their partitions stay bounded.
    val breakEven = nProbe * (rowsTotal / math.max(1L, nCells))
    val exactTierMax = math.max(math.max(breakEven, massCover - 1L),
      kAdapt * nCells - 1L)
    // the rare tier's serving layout: inverted lists partitioned by the
    // synthetic class — one manifested sub-layout per value, the
    // directory-pruned read path the dispatch routes to
    val byClassPath = s"$workDir/lists_by_class"
    val (_, adaptiveBuildS) = timed {
      Layout.writePartitionedIvf(slabeled, byClassPath, "slabel", 2)
    }
    def il2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    // exact (dist, cid) cell ranking — same rule as probeRanking (the
    // measured-and-rejected alternatives are documented there)
    def rankCells(qq: Array[Long]): Seq[Long] =
      codebookArr.map { case (cid, cq) => (il2(qq, cq), cid) }.sorted.map(_._2)
    // CALIBRATED dense-tier depth (untimed ROUTER
    // maintenance like the layout write above): for labels the dispatch
    // keeps on the IVF tier, mass coverage saturates instantly — a
    // 95%-selectivity label covers α·k inside any one cell — yet the
    // probe depth a recall target needs is index- and query-set-dependent
    // (this demo measured 0.083 recall@3 for the dense class at the
    // routed preset's np floor while the unlabeled sweep read 0.575 at
    // the same depth). Distance-bound escalation cannot close that hole
    // (see probeRanking — admissible radii bounds never prune on this
    // corpus), so the router CALIBRATES: a disjoint same-class
    // calibration set with sampled exact ground truth (bounded work —
    // |cal| brute-force passes per maintenance cycle, the same cost class
    // as the sweep instrumentation) yields the coverage-vs-depth curve,
    // and the dense tier serves at one grid step past the smallest depth
    // meeting the deployment's recall target (the base sweep's np16
    // recall — the bar this leg is graded against), escalate-only above
    // the floor. Coverage here IS served recall: a GT neighbor whose cell
    // is probed always survives the exact rerank (it outranks every
    // non-GT candidate by definition of the ground truth).
    val recallTarget = sweep.last._2
    val ((npCal, calCurve), calS) = timed {
      val npGrid = (Seq(10, 16, 24, 32, 48, 64, 96, 128, 192, 256, 384, 512)
        .filter(_ < nCells.toInt) :+ nCells.toInt).distinct
      val calQueries = Seq(160L, 161L, 162L, 163L, 164L, 165L, 166L, 167L)
      val needs = calQueries.flatMap { qid =>
        val qrow = slabeled.filter(col("vec_id") === qid).head()
        assert(qrow.getString(3) == "common", s"calibration query $qid is not common-class")
        val qq = qrow.getSeq[Long](1).toArray
        val gtCells = nearest(slabeled.filter(col("slabel") === "common"), qid, qq, kAdapt)
          .select("cell").collect().map(_.getLong(0))
        val rank = rankCells(qq).zipWithIndex.toMap
        gtCells.map(c => rank(c) + 1) // smallest np that probes this neighbor
      }
      def coverageAt(np: Int) = needs.count(_ <= np).toDouble / needs.size
      val curve = npGrid.map(np => np -> coverageAt(np))
      val minNp = curve.find(_._2 >= recallTarget).map(_._1).getOrElse(nCells.toInt)
      // one grid step of margin: calibration transfers approximately
      (npGrid.find(_ > minNp).getOrElse(nCells.toInt), curve)
    }
    val (adaptiveJson, adaptiveS) = timed {
      val k = kAdapt
      // 8 queries per class (the sweep's nQueries discipline): single-
      // query-per-class numbers carry ~full-range variance — one query's
      // 3 neighbors either route or don't — so per-class recall is an
      // average the rule can be graded on
      val classQueries = Seq(
        "rare" -> Seq(1000L, 1001L, 2000L, 2001L, 3000L, 3001L, 4000L, 4001L),
        "mid" -> Seq(101L, 102L, 103L, 104L, 201L, 202L, 203L, 204L),
        "common" -> Seq(150L, 151L, 152L, 153L, 154L, 155L, 156L, 157L))
      val perClass = classQueries.map { case (c, qids) =>
        val avail = classTotals(c) - 1
        val exactTier = avail <= exactTierMax
        val partRows =
          if (exactTier)
            Layout.readPartitionedIvf(spark, byClassPath, "slabel", c).count()
          else 0L
        val perQuery = qids.map { qid =>
          val qrow = slabeled.filter(col("vec_id") === qid).head()
          assert(qrow.getString(3) == c, s"query $qid is not class $c")
          val qq = qrow.getSeq[Long](1).toArray
          val qcell = qrow.getLong(2)
          val rankedCells = rankCells(qq)
          def matchesIn(cid: Long) =
            histCl.getOrElse((cid, c), 0L) - (if (cid == qcell) 1L else 0L)
          val cum = rankedCells.scanLeft(0L)((acc, cid) => acc + matchesIn(cid)).drop(1)
          // escalate-only, floored at the deployment's recall-tuned nprobe
          // (the un-floored minimal prefix measurably traded recall for
          // I/O on dense labels — np 2 vs 10 dropped mid-class recall to
          // 0); the stop condition is the MASS-COVERAGE target α·k, not
          // k — see massCover above
          val npAdaptive = math.max(nProbe, cum.indexWhere(_ >= massCover) match {
            case -1 => rankedCells.length
            case i  => i + 1
          })
          def nearestIds(cands: DataFrame): Seq[Long] =
            nearest(cands, qid, qq, k).select("vec_id").collect().map(_.getLong(0)).toSeq
          val sameClass = slabeled.filter(col("slabel") === c)
          def top3Ids(np: Int): Seq[Long] = nearestIds(inCells(sameClass, rankedCells.take(np)))
          val exact3 = nearestIds(sameClass).toSet
          def leg(np: Int) = {
            val ids = top3Ids(np)
            val rowsRead = rankedCells.take(np).map(cellRowCount.getOrElse(_, 0L)).sum
            (ids.size, ids.count(exact3), rowsRead)
          }
          val (resF, hitF, rowsF) = leg(nProbe)
          // fixed np=16 reference (the sweep's deepest fixed point): the
          // bar the serving rule is graded against per class
          val (resF16, hitF16, rowsF16) = leg(16)
          // THE DISPATCH (v26's rule + v27's coverage and density guards
          // at the demo threshold — see exactTierMax above): qualifying
          // classes serve from their own partition of the by-class
          // layout — exact within label, read through the partition's
          // manifest, rows read = the partition's rows
          val (npA, resA, hitA, rowsA) =
            if (exactTier) {
              val ids = nearestIds(Layout.readPartitionedIvf(spark, byClassPath, "slabel", c))
              (0, ids.size, ids.count(exact3), partRows)
            } else {
              // the IVF tier serves at the deeper of the two escalation
              // rules: mass coverage (starvation) and the CALIBRATED
              // depth (quality — see npCal above)
              val npServe = math.max(npAdaptive, npCal)
              val (r, h, rows) = leg(npServe)
              (npServe, r, h, rows)
            }
          // the serving rule's guarantees, per query: full k results (the
          // corpus holds >= k matches per class); the partitioned tier is
          // EXACT — its hits are the brute-force answer by construction;
          // the ivf tier's escalated candidate set is a superset of the
          // floor's, so its hits can only match or exceed the floor's
          assert(resA == k, s"adaptive tier returned $resA < $k for class $c query $qid")
          if (exactTier)
            assert(hitA == exact3.size, s"partitioned tier missed exact neighbors for $c")
          else
            assert(hitA >= hitF, s"escalated probe lost recall for $c query $qid: $hitA < $hitF")
          (exact3.size, hitF, rowsF, hitF16, rowsF16, npA, hitA, rowsA, resF, resF16)
        }
        val tier = if (exactTier) "partitioned" else "ivf"
        val nEx = perQuery.map(_._1).sum
        def ratio(h: Int) = fmt4(h.toDouble / nEx)
        def avg(xs: Seq[Long]) = xs.sum / xs.size
        val (hitF, hitF16, hitA) =
          (perQuery.map(_._2).sum, perQuery.map(_._4).sum, perQuery.map(_._7).sum)
        // self-check at class granularity: the served rule must meet or
        // beat the DEEPEST fixed sweep point (np=16) for EVERY class —
        // the exact tier by recall 1.0, the ivf tier by superset
        // monotonicity whenever it SERVED at ≥ np16. Guard on the depth
        // each query actually served at (npServe = max(npAdaptive,
        // npCal), recorded per query), not the npCal formula alone: with
        // small-nCells geometry npCal can sit under 16 while mass
        // escalation still drives every query's served depth past it —
        // the superset argument holds there too, and an npCal-only guard
        // would skip exactly that check.
        if (exactTier || perQuery.map(_._6).min >= 16) assert(hitA >= hitF16,
          s"dispatch under fixed np16 for class $c: $hitA < $hitF16")
        s"""{"class":"$c","selectivity":${fmt4(
            classTotals(c).toDouble / rowsTotal)},"n_queries":${qids.size},""" +
          s""""np_fixed":$nProbe,"results_fixed":${perQuery.map(_._9).sum},"recall_fixed":${ratio(hitF)},"rows_read_fixed":${avg(perQuery.map(_._3))},""" +
          s""""np_fixed16":16,"results_fixed16":${perQuery.map(_._10).sum},"recall_fixed16":${ratio(hitF16)},"rows_read_fixed16":${avg(perQuery.map(_._5))},""" +
          s""""tier":"$tier","np_adaptive_max":${perQuery.map(_._6).max},"recall_adaptive":${ratio(hitA)},"rows_read_adaptive":${avg(perQuery.map(_._8))},""" +
          s""""mass_cover_target":$massCover}"""
      }
      perClass.mkString("[", ",", "]")
    }

    val preset = GraftConfig.activeName
    val line =
      s"""{"metric":"ann_serving","preset":${Artifacts.jsonStr(preset)},"scale":$scale,""" +
        s""""build_s":${fmt(buildS)},"build_profile":{"routed_train":$routedTrain,"seed_s":${fmt(seedS)},""" +
        s""""round_s":[${roundS.map(fmt).mkString(",")}],"write_s":${fmt(writeS)}},""" +
        s""""assign_s":${fmt(assignS)},"layout_s":${fmt(layoutS)},""" +
        s""""probe_s":${fmt(probeS)},"cells":$nCells,"nprobe":$nProbe,"n_queries":$nQueries,""" +
        s""""files_total":$filesTotal,"files_touched":$filesTouched,""" +
        s""""files_per_query_avg":${fmt(fAvg)},"files_per_query_max":$fMax,""" +
        s""""rows_total":$rowsTotal,"rows_read_1q":$rowsRead1q,""" +
        s""""scan_skip_1q":${fmt(rowsTotal.toDouble / math.max(1L, rowsRead1q))},""" +
        s""""nprobe_sweep":$sweepJson,""" +
        s""""topk_rows":$topk,""" +
        s""""merge_s":${fmt(mergeS)},"delta_rows":${rowsAfter - rowsTotal},""" +
        s""""files_rewritten":$filesRewritten,"files_after":$filesAfter,""" +
        s""""scan_skip_1q_after":${fmt(rowsAfter.toDouble / math.max(1L, rowsRead1qAfter))},""" +
        s""""upsert_s":${fmt(upsertS)},"upsert_tombstones":$nTombs,""" +
        s""""upsert_files_rewritten":$upsertRewritten,"rows_after_upsert":$rowsAfterUpsert,""" +
        s""""sq8":{"layout_s":${fmt(layoutSq8S)},"probe_s":${fmt(probeSq8S)},""" +
        s""""topk_rows":$topkSq8,"recall_at_5":${fmt4(recallSq8)},""" +
        s""""bytes_total":$bytesTotalSq8,"bytes_total_fp32":$bytesTotalFp,"bytes_total_grid":$bytesTotalRaw,""" +
        s""""bytes_read_1q":$bytesRead1qSq8,"bytes_read_1q_fp32":$bytesRead1qFp,"bytes_read_1q_grid":$bytesRead1qRaw,""" +
        s""""bytes_reduction_1q_vs_fp32":${fmt(bytesRead1qFp.toDouble / math.max(1L, bytesRead1qSq8))},""" +
        s""""bytes_reduction_1q_vs_grid":${fmt(bytesRead1qRaw.toDouble / math.max(1L, bytesRead1qSq8))}},""" +
        s"""$reseedJson,"reseed_s":${fmt(reseedS)},""" +
        s""""filtered":{"labels":${labelValues.length},"layout_s":${fmt(layoutPartS)},""" +
        s""""rows_read_1q_postfilter":$rowsPost,"rows_read_1q_partitioned":$rowsPart,""" +
        s""""bytes_read_1q_postfilter":$bytesPost,"bytes_read_1q_partitioned":$bytesPart,""" +
        s""""io_reduction":${fmt(rowsPost.toDouble / math.max(1L, rowsPart))},""" +
        s""""results_equal":true},""" +
        s""""adaptive_nprobe":$adaptiveJson,"adaptive_s":${fmt(adaptiveS)},""" +
        s""""adaptive_build_s":${fmt(adaptiveBuildS)},""" +
        s""""np_calibrated":$npCal,"recall_target":${fmt4(recallTarget)},""" +
        s""""cal_curve":${calCurve.map { case (np, c) => s"""[$np,${fmt4(c)}]""" }
          .mkString("[", ",", "]")},"cal_s":${fmt(calS)},""" +
        s""""sf":${Artifacts.jsonStr(sfDir)}}"""
    Artifacts.upsertLine(Artifacts.outPath("ann_demo_last.json"),
      s""""preset":${Artifacts.jsonStr(preset)}""", line)
    line
  }
}
