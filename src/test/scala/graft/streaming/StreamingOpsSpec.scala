package graft.streaming

import graft.vlm.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The funnel's per-document operators: correctness under micro-batch
  * execution and parity with the batch formulation of the same
  * transformation.
  */
class StreamingOpsSpec extends SparkSpec {
  import StreamingOpsSpec.Doc

  test("nearDupHits: streaming keep-first LSH dedup matches the batch run of the same stages") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    import StreamingOps.BandHit

    // 0 and 2 are exact near-dups (identical shingle sets → all 4 bands
    // collide); 1 and 3 are distinct; 4 repeats doc 1's text much later.
    val docs = Seq(
      Doc(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Doc(1, "one two three four five six seven eight nine ten eleven twelve"),
      Doc(2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Doc(3, "red green blue yellow purple orange cyan magenta white black"),
      Doc(4, "one two three four five six seven eight nine ten eleven twelve")
    )

    def dupPairs(hits: Seq[BandHit]): Set[(Long, Long)] =
      hits.map(h => (h.doc_id, h.rep_doc_id)).toSet

    val batch = dupPairs(
      StreamingOps.nearDupHits(StreamingOps.nearDupBandRows(docs.toDF())).collect().toSeq)
    // keep-first: 2 collapses onto 0, 4 onto 1
    assert(batch.contains((2L, 0L)) && batch.contains((4L, 1L)), batch)
    assert(!batch.exists { case (d, _) => d == 3L }, batch)

    val mem = MemoryStream[Doc]
    val q = StreamingOps.nearDupHits(StreamingOps.nearDupBandRows(mem.toDF()))
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    try {
      // arrival order follows doc_id, split across micro-batches so the
      // keep-first decision for docs 2 and 4 crosses the state store
      mem.addData(docs(0), docs(1))
      q.processAllAvailable()
      mem.addData(docs(2), docs(3), docs(4))
      q.processAllAvailable()
      val streamed = dupPairs(s.table("neardup").as[BandHit].collect().toSeq)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("screenDocsFuzzy: streaming fuzzy-decontamination guard is row-identical to batch d17") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    // the driver testdata has no cross-%97 near-dup pairs (d17 = 0 rows
    // there), so parity is asserted on a fixture with real contamination:
    // doc 0 is eval (0 % 97 == 0); docs 1-2 are near-dups of it, doc 3 an
    // exact dup, doc 97 a second unrelated eval, the rest clean filler
    val dir = tempDir("graft-d17-stream").toString
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square tonight"
    val docs = Seq(
      (0L, base),
      (1L, base.replace("quick", "swift")),
      (2L, base.replace("lazy dog", "sleepy cat")),
      (3L, base),
      (97L, "benchmarks deserve their own unrelated sentence with enough words to shingle cleanly"),
      // degenerate docs: empty and sub-shingle-length text — batch and
      // stream must agree these are clean, not crash or false-positive
      (41L, ""),
      (42L, "two tokens")
    ) ++ (4L to 40L).map(i => i ->
      s"document number $i talks about topic $i with entirely distinct content tokens alpha$i beta$i gamma$i delta$i epsilon$i")
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val batch = graft.queries.DedupQueries.fuzzyDecontaminate(s, dir)
      .collect().map(key).sortBy(_._1)
    assert(batch.nonEmpty, "fixture must produce contamination")
    assert(batch.map(_._1).toSet.subsetOf((1L to 96L).toSet), s"only train docs flagged: $batch")
    assert(batch.exists(_._4 == 1.0), "exact dup must verify at jaccard 1.0")

    // same training docs through the stateless guard, batch execution
    val evalIdx = StreamingOps.collectEvalDocs(
      graft.Tables.documents(s, dir).filter(col("doc_id") % 97 === 0))
    assert(evalIdx.sets.size === 2)
    val train = graft.Tables.documents(s, dir).filter(col("doc_id") % 97 =!= 0)
    val guarded = StreamingOps.screenDocsFuzzy(train, evalIdx)
      .collect().map(key).sortBy(_._1)
    assert(guarded.toSeq == batch.toSeq)

    // stream parity across a mid-corpus trigger split (stateless: the
    // split cannot change any row)
    val rows = train.select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.screenDocsFuzzy(mem.toDF().toDF("doc_id", "text"), evalIdx)
      .writeStream.format("memory").queryName("fuzzscreen").outputMode("append").start()
    try {
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = s.table("fuzzscreen").collect().map(key).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("screenDocsFuzzy: empty-doc x empty-eval collision matches batch (and 0/0 cannot throw)") {
    // Degenerate-doc parity: an empty doc digests to ONE shingle (md5 of
    // the zero-token window — shingle sets are never empty by
    // construction), so empty-train × empty-eval is a GENUINE jaccard-1.0
    // match on both sides, 1/1 not 0/0. The zero-union guard in the
    // streaming screen is therefore defense-in-depth for hand-built
    // EvalDocIndex maps with empty sets: it must never turn a degenerate
    // pair into a BigDecimal(NaN) throw that fails the whole trigger.
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-d17-empty").toString
    Seq(
      (0L, ""),           // eval member (0 % 97 == 0), empty text
      (5L, ""),           // train doc, empty text → exact match of eval 0
      (6L, "short text"), // sub-shingle-length train doc
      (7L, "a perfectly ordinary training document with plenty of distinct shingle material here")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val batch = graft.queries.DedupQueries.fuzzyDecontaminate(s, dir)
      .collect().map(key).sortBy(_._1)
    assert(batch.toSeq === Seq((5L, 1L, 0L, 1.0)),
      "empty train doc is an exact dup of the empty eval doc")

    val evalIdx = StreamingOps.collectEvalDocs(
      graft.Tables.documents(s, dir).filter(col("doc_id") % 97 === 0))
    val train = graft.Tables.documents(s, dir).filter(col("doc_id") % 97 =!= 0)
    val guarded = StreamingOps.screenDocsFuzzy(train, evalIdx)
      .collect().map(key).sortBy(_._1)
    assert(guarded.toSeq === batch.toSeq)

    // the defense-in-depth path itself: a hand-built index with a truly
    // empty eval set sharing the empty doc's band keys — the screen must
    // skip the 0/0 candidate (batch semantics: NaN fails the threshold),
    // not throw from BigDecimal(NaN)
    val emptyBands = StreamingOps.collectEvalDocs(
      Seq((0L, "")).toDF("doc_id", "text")).bands
    val degenerate = StreamingOps.EvalDocIndex(emptyBands, Map(0L -> Array.empty[Long]))
    val screened = StreamingOps.screenDocsFuzzy(
      Seq((5L, "")).toDF("doc_id", "text"), degenerate).collect()
    assert(screened.isEmpty, s"zero-union candidate leaked: ${screened.toSeq}")
  }

  test("assignVectors: streaming cell assignment is row-identical to the batch flat argmin") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val sf = "/root/testdata/sf0.001"

    val quantized = s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), graft.functions.quantizeVec(col("embedding"), 1000).as("q"))
    val cent = graft.queries.IvfCentroids.cappedSeed(quantized, 1000)
    val codebook = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val batch = graft.queries.IvfCentroids.assignFlat(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(batch.map(_._2).distinct.length > 1)

    // routed = false pins the FLAT rung under test regardless of the
    // active preset (the 100tb suite sweep runs with default dispatch =
    // routed; the routed rung has its own parity test below)
    val served = StreamingOps.assignVectors(quantized, codebook, routed = false)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(served.toSeq == batch.toSeq)

    // and the DEFAULT dispatch must equal the batch preset dispatch
    val dispatched = StreamingOps.assignVectors(quantized, codebook)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val batchDispatched = graft.queries.IvfCentroids.assign(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(dispatched.toSeq == batchDispatched.toSeq)

    // stream parity across a trigger split (stateless)
    val rows = quantized.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val mem = MemoryStream[(Long, Seq[Long])]
    val q = StreamingOps.assignVectors(mem.toDF().toDF("vec_id", "q"), codebook, routed = false)
      .select(col("vec_id"), col("cell"))
      .writeStream.format("memory").queryName("cellassign").outputMode("append").start()
    try {
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = s.table("cellassign")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("assignVectors: routed depth is row-identical to the batch two-level assignHier") {
    // the capacity-preset half of the dispatch (GraftConfig.active is
    // demo in this JVM, so exercise it via the explicit override): a
    // streamed vector must land in the SAME cell as the batch-built
    // index feeding the same inverted-list layout
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val quantized = s.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), graft.functions.quantizeVec(col("embedding"), 1000).as("q"))
    val cent = graft.queries.IvfCentroids.cappedSeed(quantized, 64)
    val codebook = cent.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    val batch = graft.queries.IvfCentroids.assignHier(quantized, cent, Seq("q"))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(batch.map(_._2).distinct.length > 1)

    val served = StreamingOps.assignVectors(quantized, codebook, routed = true)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(served.toSeq == batch.toSeq)

    // and the two depths genuinely differ on this codebook — otherwise
    // this parity test would also pass with a flat-only implementation
    val flat = StreamingOps.assignVectors(quantized, codebook, routed = false)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(flat.toSeq != batch.toSeq,
      "expected at least one vector routed to a non-exact cell at depth 2")
  }

  test("assignVectors: dimension mismatch fails fast instead of truncating") {
    val s = spark
    import s.implicits._
    val codebook = Seq(0L -> Array(0L, 0L, 0L), 1L -> Array(1000L, 1000L, 1000L))
    // a 2-dim vector against a 3-dim codebook would otherwise argmin over
    // a truncated distance; the batch fails instead
    val bad = Seq((7L, Seq(1000L, 0L))).toDF("vec_id", "q")
    intercept[Exception] {
      StreamingOps.assignVectors(bad, codebook).collect()
    }
    // well-formed rows still pass
    val good = Seq((7L, Seq(1000L, 0L, 0L))).toDF("vec_id", "q")
    assert(StreamingOps.assignVectors(good, codebook).collect().length == 1)
  }

}

object StreamingOpsSpec {
  /** One incoming document (near-dup guard input). */
  final case class Doc(doc_id: Long, text: String)
}
