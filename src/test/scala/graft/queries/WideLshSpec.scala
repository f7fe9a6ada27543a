package graft.queries

import graft.vlm.SparkSpec
import org.apache.spark.sql.functions._

/** The 100 TB-preset LSH geometry actually executes: wide signatures from
  * the fused MinHashN independent-slice family, rowsPerBand-generic band
  * keys, and the invariants that make widened geometry correct —
  * determinism, equal-set agreement on every slice, and the near-dup
  * candidate property surviving the widening.
  */
class WideLshSpec extends SparkSpec {
  import spark.implicits._

  private val wide = 16 // 2× the fused slice count → exercises the re-hash path
  private def sets(docs: Seq[(Long, String)]) =
    docs.toDF("doc_id", "text").select(
      col("doc_id"), graft.functions.shingleHashes(col("text"), 3).as("sh"))

  private val docs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "the quick brown fox jumps over the lazy dog near the river bend", // near-dup of 1
    3L -> "completely unrelated content discussing spark shuffle partitioning at scale")

  test("16-slice signatures: all columns populated, deterministic, identical for identical shingle sets") {
    val sig = DedupQueries.signaturesFor(sets(docs), wide)
    assert(sig.columns.toSeq === ("doc_id" +: (0 until wide).map(i => s"mh$i")))
    val rows = sig.orderBy("doc_id").collect()
    assert(rows.length === 3)
    // every slice in 32-bit range, no nulls
    for (r <- rows; j <- 1 to wide) {
      val v = r.getLong(j)
      assert(v >= 0L && v <= 0xffffffffL, s"slice $j out of range: $v")
    }
    // determinism across independent evaluations
    val again = DedupQueries.signaturesFor(sets(docs), wide).orderBy("doc_id").collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // an exact-duplicate text yields the identical full signature
    val dup = DedupQueries.signaturesFor(sets(Seq(9L -> docs.head._2)), wide).collect().head
    assert(rows.head.toSeq.tail === dup.toSeq.tail)
  }

  test("8 bands × 2 rows over 16 slices: near-dups share bands, unrelated docs don't") {
    val sig = DedupQueries.signaturesFor(sets(docs), wide)
    val banded = sig.select(col("doc_id") +: DedupQueries.bandColsFor(8, 2): _*)
    val bands = banded.collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    // near-dup pair: most slices agree (11-of-12-shingle overlap) → at
    // least one of the 8 band keys collides
    assert(bands(1L).zip(bands(2L)).exists { case (a, b) => a == b })
    // unrelated doc: zero shared shingles → no band collision with either
    assert(!bands(1L).zip(bands(3L)).exists { case (a, b) => a == b })
    assert(!bands(2L).zip(bands(3L)).exists { case (a, b) => a == b })
  }

  test("d18 geometry audit measures the full S-curve on an engineered corpus") {
    // the driver testdata has no near-dup mass in the audit sample (one
    // decile-0 row), so the audit's point — collision rate RISING with
    // exact jaccard, estimator tracking it — is demonstrated here on a
    // corpus with pairs at controlled token overlap. Doc ids are chosen
    // to PASS the audit's h60("aud:"+id) % 17 sample filter.
    val ids = (0L until 5000L)
      .filter(i => PipelineFns.h60Jvm(s"aud:$i") % 17L == 0).toIndexedSeq
    assert(ids.size >= 60, s"need ≥60 sampled ids, got ${ids.size}")
    val baseToks = (0 until 60).map(k => s"base$k")
    // overlap prefix p of 60 tokens → shingle jaccard ≈ (p-2)/(118-p):
    // p=60 → 1.0, 56 → ~0.87, 50 → ~0.70, 40 → ~0.49, 30 → ~0.32
    val overlaps = Seq(60, 56, 50, 40, 30)
    val engineered = overlaps.zipWithIndex.flatMap { case (p, i) =>
      val a = ids(2 * i); val b = ids(2 * i + 1)
      val toksB = baseToks.take(p) ++ (p until 60).map(k => s"alt${i}v$k")
      Seq(a -> baseToks.mkString(" "), b -> toksB.mkString(" "))
    }
    val fillers = ids.slice(10, 40).map(id =>
      id -> (0 until 60).map(k => s"f${id}t$k").mkString(" "))
    val dir = tempDir("graft-d18").toString
    val s = spark
    import s.implicits._
    (engineered ++ fillers).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = graft.SparkEntry.queries("d18_lsh_geometry_audit")(s, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap // decile -> (n, hit_rate, avg_est, avg_exact, avg_abs_err)
    assert(rows.size >= 4, s"expected several deciles, got $rows")
    // the identical pair lands in decile 9 and MUST band-collide
    val (_, topHit, topEst, topExact, _) = rows(9L)
    assert(topHit >= 0.5, s"top-decile hit rate $topHit")
    // decile 0 (filler cross pairs) collides at most rarely
    val (n0, loHit, _, _, _) = rows(0L)
    assert(n0 > 100 && loHit <= 0.05, s"decile-0: n=$n0 hit=$loHit")
    assert(topHit > loHit * 10, "S-curve: top decile must collide ≫ bottom")
    // estimator tracks exact jaccard at the top of the curve
    assert(math.abs(topEst - topExact) <= 0.25, s"est $topEst vs exact $topExact")
    // and the overall error stays bounded in every populated decile
    rows.values.foreach { case (_, _, _, _, err) => assert(err <= 0.3) }
  }
}
