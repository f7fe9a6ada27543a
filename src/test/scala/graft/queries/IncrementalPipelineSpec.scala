package graft.queries

import graft.vlm.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The composed incremental story (IncrementalPipeline): snapshot diff →
  * delta slice → dedup guard → embed/assign → index merge. The
  * load-bearing property pinned here is the zero-work contract: an
  * unchanged document generates NO signature work and NO embedding work —
  * the downstream stages' inputs are exactly the added∪changed slice —
  * and the index merge lands exactly the delta's vectors on top of
  * yesterday's, exactly once.
  */
class IncrementalPipelineSpec extends SparkSpec {

  private def docsDF(rows: Seq[(Long, String)]) = {
    val data = rows.map { case (id, t) => Row(id, t) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType))))
  }

  private val prior = Seq(
    1L -> "alpha body", 2L -> "beta body", 3L -> "gamma body",
    4L -> "to be removed", 5L -> (null: String))
  private val cur = Seq(
    1L -> "alpha body",            // unchanged
    2L -> "beta body EDITED",      // changed
    3L -> "gamma body",            // unchanged
    5L -> (null: String),          // unchanged (null text on both sides)
    6L -> "brand new doc",         // added
    7L -> (null: String))          // added with null text

  test("snapshotDiff classifies added/removed/changed/unchanged, null-safely") {
    val diff = IncrementalPipeline.snapshotDiff(docsDF(cur), docsDF(prior))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff === Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "removed", 5L -> "unchanged", 6L -> "added", 7L -> "added"))
  }

  test("deltaSlice is exactly the added∪changed docs — unchanged docs feed zero downstream work") {
    val c = docsDF(cur)
    val diff = IncrementalPipeline.snapshotDiff(c, docsDF(prior))
    val delta = IncrementalPipeline.deltaSlice(c, diff)
    assert(delta.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 6L, 7L))
    // the signature stage's input IS this frame: no unchanged/removed doc
    // ever reaches shingle/minhash work
    val sigInput = DedupQueries.docBandRows(delta).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(sigInput.subsetOf(Set(2L, 6L, 7L)))
    // likewise the embedding stage: stubEmbed input rows = delta rows
    val emb = IncrementalPipeline.stubEmbed(delta, dim = 8)
    assert(emb.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 6L, 7L))
  }

  test("stubEmbed is a deterministic pure function of content with the quantized-vector contract") {
    val d = docsDF(cur)
    val a = IncrementalPipeline.stubEmbed(d, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = IncrementalPipeline.stubEmbed(d, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a === b)
    assert(a.values.forall(q => q.length == 8 && q.forall(v => v >= 0 && v < 2048)))
    // changed content ⇒ changed vector; same content ⇒ same vector
    val pa = IncrementalPipeline.stubEmbed(docsDF(prior), dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a(1L) === pa(1L))
    assert(a(2L) !== pa(2L))
  }

  test("end to end: merge lands exactly yesterday's vectors plus the delta's, exactly once") {
    val dir = tempDir("graft-incrpipe").toFile
    dir.deleteOnExit()
    val lists = s"${dir.getAbsolutePath}/lists"
    val dim = 8
    val priorD = docsDF(prior)
    val curD = docsDF(cur)
    val vecs0 = IncrementalPipeline.stubEmbed(priorD, dim)
    val cent = vecs0.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    val assigned0 = IvfCentroids.assignFlat(vecs0, cent, Seq("q")).select("vec_id", "q", "cell")
    graft.layout.Layout.writeIvfClustered(assigned0, lists, numFiles = 2)

    val diff = IncrementalPipeline.snapshotDiff(curD, priorD)
    val delta = IncrementalPipeline.deltaSlice(curD, diff)
    val codebookArr = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val deltaAssigned = graft.streaming.StreamingOps.assignVectors(
        IncrementalPipeline.stubEmbed(delta, dim), codebookArr, routed = false)
      .select("vec_id", "q", "cell")
    graft.layout.Layout.mergeIvfDelta(spark, lists, deltaAssigned)

    val after = graft.layout.Layout.readIvfLists(spark, lists)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    // prior ids 1..5 plus delta ids 2,6,7 — id 2's vector appears TWICE
    // (old content + new content), which is the honest contract of the
    // plain APPEND merge (the streaming sink's path); the supersede
    // variant below holds exactly one live vector per doc
    assert(after === Seq(1L, 2L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("end to end with supersede: upsert leaves exactly one live vector per current doc") {
    val dir = tempDir("graft-incrupsert").toFile
    dir.deleteOnExit()
    val lists = s"${dir.getAbsolutePath}/lists"
    val dim = 8
    val priorD = docsDF(prior)
    val curD = docsDF(cur)
    val vecs0 = IncrementalPipeline.stubEmbed(priorD, dim)
    val cent = vecs0.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    val assigned0 = IvfCentroids.assignFlat(vecs0, cent, Seq("q")).select("vec_id", "q", "cell")
    graft.layout.Layout.writeIvfClustered(assigned0, lists, numFiles = 2)
    // the pk→cell catalog the supersede consults for victim coordinates
    val pkCell = assigned0.select("vec_id", "cell")

    val diff = IncrementalPipeline.snapshotDiff(curD, priorD)
    val delta = IncrementalPipeline.deltaSlice(curD, diff)
    val codebookArr = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val deltaAssigned = graft.streaming.StreamingOps.assignVectors(
        IncrementalPipeline.stubEmbed(delta, dim), codebookArr, routed = false)
      .select("vec_id", "q", "cell")
    val victims = diff.filter(col("change_class").isin("changed", "removed"))
      .select(col("doc_id").as("vec_id"))
    val tombstones = pkCell.join(victims, Seq("vec_id"), "left_semi")
    graft.layout.Layout.mergeIvfDeltaUpsert(spark, lists, deltaAssigned, tombstones)

    val after = graft.layout.Layout.readIvfLists(spark, lists)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // exactly the CURRENT corpus, one vector each: 4 retracted (removed),
    // 2 superseded in place, 6/7 added — and every live vector matches
    // the doc's current content
    val want = IncrementalPipeline.stubEmbed(curD, dim).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(after.keySet === Set(1L, 2L, 3L, 5L, 6L, 7L))
    assert(graft.layout.Layout.readIvfLists(spark, lists).count() === 6)
    after.foreach { case (id, q) => assert(q === want(id), s"stale vector for doc $id") }
  }

  test("updateCatalog keeps victim coordinates fresh: a moved doc's SECOND edit tombstones its day-1 cell") {
    import spark.implicits._
    def freshLayout(): String = {
      val p = tempDir("graft-catalog-fresh").toString + "/lists"
      val base = (0L to 7L).map(v => (v, v % 4)).toDF("vec_id", "cell")
      graft.layout.Layout.writeIvfClustered(base, p, numFiles = 2)
      p
    }
    def rowsOf(p: String) = graft.layout.Layout.readIvfLists(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val catalog0 = (0L to 7L).map(v => (v, v % 4)).toDF("vec_id", "cell")

    // day 1: doc 5 MOVES cross-cell (1 → 0); catalog folds the move back
    val delta1 = Seq((5L, 0L)).toDF("vec_id", "cell")
    val tombs1 = catalog0.join(Seq(5L).toDF("vec_id"), Seq("vec_id"), "left_semi")
    val listsA = freshLayout()
    graft.layout.Layout.mergeIvfDeltaUpsert(spark, listsA, delta1, tombs1)
    val catalog1 = IncrementalPipeline.updateCatalog(catalog0, tombs1, delta1)
      .localCheckpoint(eager = true)
    assert(catalog1.filter(col("vec_id") === 5L).select("cell").as[Long].head() === 0L,
      "fold-back must record the day-1 landing cell")
    assert(catalog1.count() === 8)

    // day 2: doc 5 changes again. FRESH coordinates (catalog1: cell 0)
    // supersede exactly-once...
    val delta2 = Seq((5L, 2L)).toDF("vec_id", "cell")
    val tombsFresh = catalog1.join(Seq(5L).toDF("vec_id"), Seq("vec_id"), "left_semi")
    assert(tombsFresh.select("cell").as[Long].head() === 0L)
    graft.layout.Layout.mergeIvfDeltaUpsert(spark, listsA, delta2, tombsFresh)
    val fresh = rowsOf(listsA)
    assert(fresh.count(_._1 == 5L) === 1, s"fresh tombstone must supersede: $fresh")
    assert(fresh.contains((5L, 2L)) && fresh.size === 8)

    // ...while a day-0-FROZEN catalog names cell 1, where doc 5 no longer
    // lives: the stale tombstone no-ops (LayoutSpec pins that) and the
    // second edit lands as a DUPLICATE live vector — the failure mode the
    // per-day fold-back exists to prevent
    val listsB = freshLayout()
    graft.layout.Layout.mergeIvfDeltaUpsert(spark, listsB, delta1, tombs1) // day 1 same
    val tombsStale = catalog0.join(Seq(5L).toDF("vec_id"), Seq("vec_id"), "left_semi")
    graft.layout.Layout.mergeIvfDeltaUpsert(spark, listsB, delta2, tombsStale)
    val stale = rowsOf(listsB)
    assert(stale.count(_._1 == 5L) === 2, s"expected the stale-catalog dup: $stale")
  }

  test("updateHistogram advances the v24 router metadata by exactly the merge's delta") {
    import spark.implicits._
    // day-0 corpus: (vec_id, cell, label); histogram recomputed from it
    val corpus0 = Seq(
      (0L, 0L, "en"), (1L, 0L, "en"), (2L, 0L, "fr"),
      (3L, 1L, "en"), (4L, 1L, "fr"), (5L, 2L, "fr"))
      .toDF("vec_id", "cell", "label")
    def histOf(c: org.apache.spark.sql.DataFrame) =
      c.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n_cl"))
    val hist0 = histOf(corpus0)

    // the day's maintenance: doc 2 moves cell 0→2 (label fr), doc 4 is
    // retracted, doc 6 arrives new (cell 1, en), doc 5 re-embeds in place
    val victims = Seq((2L, 0L, "fr"), (4L, 1L, "fr"), (5L, 2L, "fr"))
      .toDF("vec_id", "cell", "label")
    val assigned = Seq((2L, 2L, "fr"), (6L, 1L, "en"), (5L, 2L, "fr"))
      .toDF("vec_id", "cell", "label")
    val corpus1 = corpus0
      .join(victims.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(assigned)

    val got = IncrementalPipeline.updateHistogram(hist0, victims, assigned)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val want = histOf(corpus1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got === want, "folded histogram diverged from the recomputed one")
    // the (cell 1, fr) entry reached zero and DROPPED (absent == 0 to the
    // router; keeping zeros would grow the histogram with label churn)
    assert(!got.exists(t => t._1 == 1L && t._2 == "fr"))
    // a stale victim (coordinates not in the histogram) no-ops instead of
    // going negative — mirroring the lists' stale-tombstone contract
    val stale = IncrementalPipeline.updateHistogram(
      hist0, Seq((99L, 7L, "de")).toDF("vec_id", "cell", "label"),
      assigned.filter(lit(false)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(stale === hist0.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq)
  }

  test("drift re-seed mid-loop: a reader pinned to codebook rev N is unaffected by the rev N+1 publish") {
    import spark.implicits._
    // corpus with one DRIFTED cell: cell 0's serving centroid sits at the
    // origin while its members cluster near (100, 100) — the exact state
    // continuous ingest leaves a codebook in between retrains
    val assigned = Seq(
      (0L, Seq(98L, 102L), 0L), (1L, Seq(102L, 98L), 0L), (2L, Seq(100L, 100L), 0L),
      (3L, Seq(10L, 10L), 1L), (4L, Seq(10L, 10L), 1L))
      .toDF("vec_id", "q", "cell")
    val cb = Seq((0L, Seq(0L, 0L)), (1L, Seq(10L, 10L))).toDF("cid", "cq")
    val path = tempDir("graft-reseed").toString + "/cb"
    assert(IvfCentroids.publish(cb, path) === 1L)

    // a reader PINS rev 1 (resolve version, then read that revision's
    // path) before the maintenance writer runs — the production shape of
    // a long scan overlapping a codebook publish
    val revPinned = IvfCentroids.currentRevision(spark, path)
    def pinnedRows() = spark.read.parquet(s"$path/v$revPinned").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1).toSeq
    val before = pinnedRows()

    // the writer: v20-rule audit + v21 local Lloyd step + versioned publish
    val (newCb, drifted) = IvfCentroids.reseedDrifted(assigned, IvfCentroids.loadCurrent(spark, path), topK = 10)
    // only the drifted cell is touched: cell 0 re-centers to the floor-mean
    // (100, 100); cell 1's centroid IS its member mean — zero drift, kept
    assert(drifted.select("cid").as[Long].collect().toSeq === Seq(0L))
    assert(IvfCentroids.publish(newCb, path) === 2L)

    // reader/writer isolation: the pinned reader's centroids are
    // byte-identical across the publish…
    assert(pinnedRows() === before, "rev-1 reader saw the rev-2 publish")
    // …while a NEW reader resolves rev 2 with the re-centered cell and the
    // untouched one intact (membership kept: assigned never changed)
    val cur = IvfCentroids.loadCurrent(spark, path).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1).toSeq
    assert(cur === Seq(0L -> Seq(100L, 100L), 1L -> Seq(10L, 10L)))
    // the step converges: a second audit over the same members finds zero
    // remaining excess (centroid == floor-mean everywhere)
    val (_, after) = IvfCentroids.reseedDrifted(assigned, IvfCentroids.loadCurrent(spark, path), topK = 10)
    assert(after.count() === 0L)
  }
}
