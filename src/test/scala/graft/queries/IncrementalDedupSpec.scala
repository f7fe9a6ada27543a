package graft.queries

import graft.streaming.StreamingOps
import graft.vlm.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Incremental near-dup ingest: folding batches through
  * `DedupQueries.incrementalNearDup` must reproduce the one-shot keep-first
  * result (and therefore the streaming state-store semantics, which share
  * the same band math via `docBandRows`).
  */
class IncrementalDedupSpec extends SparkSpec {

  private def docsDF(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val docs = Seq(
    0L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    1L -> "one two three four five six seven eight nine ten eleven twelve",
    2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa", // dup of 0
    3L -> "red green blue yellow purple orange cyan magenta white black",
    4L -> "one two three four five six seven eight nine ten eleven twelve" // dup of 1
  )

  private def emptyStore = spark.createDataFrame(
    new java.util.ArrayList[Row](),
    StructType(Seq(
      StructField("band_idx", IntegerType),
      StructField("band", StringType),
      StructField("rep", LongType))))

  test("two-batch incremental fold equals the one-shot keep-first result") {
    val (kept1, store1) = DedupQueries.incrementalNearDup(docsDF(docs.take(2)), emptyStore)
    val (kept2, store2) = DedupQueries.incrementalNearDup(docsDF(docs.drop(2)), store1)
    val keptIds = (kept1.select("doc_id").collect() ++ kept2.select("doc_id").collect())
      .map(_.getLong(0)).toSet

    val (keptOne, _) = DedupQueries.incrementalNearDup(docsDF(docs), emptyStore)
    val oneShot = keptOne.select("doc_id").collect().map(_.getLong(0)).toSet

    assert(keptIds == Set(0L, 1L, 3L))
    assert(oneShot == keptIds)

    // the final store holds the min doc_id per touched bucket either way
    val reps = store2.select("band_idx", "band", "rep").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = StreamingOps.nearDupBandRows(docsDF(docs))
      .collect().groupBy(r => (r.band_idx, r.band))
      .map { case (k, rs) => k -> rs.map(_.doc_id).min }
    assert(reps == expected)
  }

  test("store survives a band_idx-partitioned parquet checkpoint between batches") {
    // the production checkpoint shape (IncrementalDemo): the store lives
    // as band-partitioned parquet between batches. Partition-column
    // read-back moves band_idx to the END of the schema — the fold must be
    // immune to that reordering (regression: positional union misaligned
    // band under band_idx and failed casting an md5 band string to long)
    val dir = tempDir("graft-incr-store").toString
    val (kept1, store1) = DedupQueries.incrementalNearDup(docsDF(docs.take(2)), emptyStore)
    store1.write.mode("overwrite").partitionBy("band_idx").parquet(dir)
    val readBack = spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.col("band_idx").cast("int"),
        org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("rep"))
    val (kept2, store2) = DedupQueries.incrementalNearDup(docsDF(docs.drop(2)), readBack)
    val keptIds = (kept1.select("doc_id").collect() ++ kept2.select("doc_id").collect())
      .map(_.getLong(0)).toSet
    assert(keptIds == Set(0L, 1L, 3L))
    // the post-checkpoint store still matches the in-memory fold's content
    val inMem = DedupQueries.incrementalNearDup(docsDF(docs.drop(2)),
      DedupQueries.incrementalNearDup(docsDF(docs.take(2)), emptyStore)._2)._2
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("band_idx", "band", "rep").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(asSet(store2) == asSet(inMem))
  }

  test("property: EVERY 2-way batch split folds to the one-shot result (randomized corpora)") {
    // randomized mini-corpora with a tiny vocabulary to force real band
    // collisions; every 2-way split of the arrival order must fold to the
    // same kept set as the one-shot run (all cuts exercised exhaustively)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 2) {
      val n = 6 + rnd.nextInt(4)
      val corpus = (0L until n).map { i =>
        // ~half the docs reuse an earlier doc's text (near/exact dups)
        val text =
          if (i > 0 && rnd.nextBoolean()) null
          else Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        i -> text
      }.foldLeft(Vector.empty[(Long, String)]) { case (acc, (i, t)) =>
        acc :+ (i -> Option(t).getOrElse(acc(rnd.nextInt(acc.size))._2))
      }
      val (keptOne, _) = DedupQueries.incrementalNearDup(docsDF(corpus), emptyStore)
      val oneShot = keptOne.select("doc_id").collect().map(_.getLong(0)).toSet
      for (cut <- 1 until corpus.size) {
        val (kept1, store1) = DedupQueries.incrementalNearDup(docsDF(corpus.take(cut)), emptyStore)
        val (kept2, _) = DedupQueries.incrementalNearDup(docsDF(corpus.drop(cut)), store1)
        val folded = (kept1.select("doc_id").collect() ++ kept2.select("doc_id").collect())
          .map(_.getLong(0)).toSet
        assert(folded == oneShot, s"trial $trial (cut=$cut): $folded != $oneShot")
      }
      // incrementalNearDup caches its band pipeline internally; drop the
      // accumulated entries so the shared suite session stays lean
      spark.catalog.clearCache()
    }
  }

  test("a batch against a pre-claimed store drops every colliding doc") {
    val (_, store1) = DedupQueries.incrementalNearDup(docsDF(docs.take(2)), emptyStore)
    // replay the same two docs under new ids: all bands already claimed
    val replay = Seq(10L -> docs(0)._2, 11L -> docs(1)._2)
    val (kept, store2) = DedupQueries.incrementalNearDup(docsDF(replay), store1)
    assert(kept.count() == 0)
    // no new claims: the store is unchanged
    assert(store2.count() == store1.count())
  }
}
