package graft.queries

import graft.streaming.StreamingOps
import graft.vlm.SparkSpec

/** Edge-input robustness: null / empty / whitespace / non-ASCII documents
  * must flow through the reusable per-row stages without ANSI-mode errors
  * or crashes (real corpora contain all of these; the testdata floor never
  * exercises them).
  */
class EdgeInputSpec extends SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "normal words here and the thing", "src1"),
      (2L, null.asInstanceOf[String], "src2"),
      (3L, "", "src1"),
      (4L, "émoji 🎉 ünïcode tëxt", "src3"),
      (5L, " ", "src2")
    ).toDF("doc_id", "text", "source")
  }

  test("curationSignals/curationStage survive null, empty, and non-ASCII text") {
    val sig = CurationQueries.curationSignals(docs).collect()
    assert(sig.length == 5)
    // the keep + sample gates filter degenerate docs out instead of erroring
    val kept = CurationQueries.curationSignals(docs)
      .filter(CurationQueries.qualityGate && org.apache.spark.sql.functions.col("bucket") < CurationQueries.sampleRate)
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(!kept.contains(2L) && !kept.contains(3L) && !kept.contains(5L), kept)
  }

  test("qualityScore scores tokenless docs 0.0 — never NaN/Inf/null (the d15 election key)") {
    // without the guard, a no-[a-z0-9] doc divides by zero and IEEE NaN
    // ordering diverges between Spark's struct-max and the oracle's
    // ORDER BY DESC — the representative election would flip engines
    val q = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      TextQueries.qualityScore.as("quality")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(q(1L).exists(v => v > 0 && !v.isNaN && !v.isInfinite))
    for (id <- Seq(3L, 5L)) assert(q(id).contains(0.0), s"doc $id: ${q(id)}")
    // null text propagates null (nullSafe regexp chain), never NaN
    assert(q(2L).isEmpty || q(2L).contains(0.0))
  }

  test("docBandRows / nearDup stages survive degenerate text") {
    val rows = DedupQueries.docBandRows(docs)
    assert(rows.collect().nonEmpty)
    val hits = StreamingOps.nearDupHits(StreamingOps.nearDupBandRows(docs))
    hits.collect() // must not throw
  }

  test("LM surprisal training and BPE learn/encode survive degenerate text") {
    // token-less docs (null/empty/whitespace) must drop out of the trained
    // tables and the per-doc outputs, not error
    val wc = BpeTokenizer.wordCounts(docs)
    assert(wc.collect().forall(r => r.getString(0).nonEmpty))
    val merges = BpeTokenizer.learn(wc, 4)
    val pc = BpeTokenizer.pieceCounts(docs, BpeTokenizer.ranksOf(merges)).collect()
    assert(pc.map(_.getLong(0)).toSet.subsetOf(Set(1L, 4L)), pc.mkString(","))
    // the empty-ranks path: every word stays character pieces
    val noMerges = BpeTokenizer.pieceCounts(docs, Map.empty).collect()
    assert(noMerges.nonEmpty)
  }

  test("m11_budget_select gates tokenless docs instead of NaN-casting the quality ratio") {
    // run the ACTUAL catalog entry over a degenerate corpus: tokenless
    // docs (null/empty/whitespace) would make nd/nt = 0/0 → NaN and an
    // ANSI long-cast error without the nt > 0 gate; the testdata floor
    // (10 tokens/doc) can never exercise this
    val dir = tempDir("graft_edge_m11").toString
    val s = spark
    import s.implicits._
    // doc 8 is the only one that FITS its source's budget: totals 13
    // tokens → budget 6; tiers src1=2/src3=1/src4=2 (total 5) → src4
    // target floor(6·2/5)=2 ≥ its 2 tokens, while every other source's
    // top-ranked doc overflows its target — so the expected selection is
    // exactly {8}, proving the gate dropped tokenless docs rather than
    // the whole corpus
    val edge = docs.unionByName(Seq((8L, "one two", "src4")).toDF("doc_id", "text", "source"))
    edge.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text")),
          org.apache.spark.sql.functions.lit(0)).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("m11_budget_select")(spark, dir).collect()
    val keptIds = out.map(_.getLong(1)).toSet
    // docs 2/3/5 are tokenless: never selected, never crashed the plan
    assert(keptIds.intersect(Set(2L, 3L, 5L)).isEmpty, keptIds)
    assert(keptIds === Set(8L), keptIds)
  }

  test("v26 dispatch: a SINGLETON rare label returns zero rows for its query, not a crash or an ivf fallback") {
    // the rare-tier boundary the testdata can't reach: a query whose fine
    // label contains ONLY itself (avail = 0). The dispatch must route it
    // to the exact tier (0 ≤ threshold), where the self-exclusion leaves
    // zero candidates — the correct empty answer. A rule that fell
    // through to the ivf tier instead would ALSO return zero rows here
    // but would read nprobe cells to learn it; worse, an unguarded
    // min-over-empty in the np rule could throw. 10 vectors: vec 7 is
    // the lone vec_id % 50 == 7 row → fine class 101 of size 1.
    val dir = tempDir("graft_edge_v26").toString
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    (0L until 10L).map(i => (i, Seq.fill(64)(rnd.nextFloat()), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("v26_rare_label_dispatch")(spark, dir).collect()
    val byQuery = out.groupBy(_.getLong(0))
    // query 7's singleton class: dispatched, empty, silent
    assert(!byQuery.contains(7L), s"singleton-label query returned rows: ${byQuery.get(7L)}")
    // every other query (labels of ~5 members, avail 4 ≤ threshold →
    // exact tier) returns its full top-3 with tier marked
    for (q <- 0L to 6L) {
      val rows = byQuery.getOrElse(q, Array.empty)
      assert(rows.length == 3, s"query $q returned ${rows.length} rows")
      assert(rows.forall(_.getString(1) == "exact"), s"query $q not on the exact tier")
    }
  }
}
