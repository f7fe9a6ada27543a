package graft.queries

import graft.vlm.SparkSpec
import org.apache.spark.sql.functions._

/** The measurement trail behind the committed GraftConfig presets: the two
  * tuning-table operators (d18 LSH geometry audit, v14 IVF nprobe sweep)
  * must, on data, reproduce the properties the preset constants were chosen
  * for — the same bounds GraftConfigSpec asserts ANALYTICALLY of
  * `candidateProb`. This is what makes a knob change auditable: Demo's
  * (numMinhash=8, numBands=4) stands on the d18 S-curve row checked here
  * (and the committed sf0.01/sf0.1 d18 artifact); the serving nprobe
  * presets (AnnDemo nprobe=10 demo / nprobe=2 capacity math) stand on the
  * v14 recall table + the ann_demo_last.json `nprobe_sweep` — see README
  * "Preset derivation".
  */
class TuningTableSpec extends SparkSpec {
  import spark.implicits._

  test("d18 empirical S-curve certifies the active LSH preset's recall and false-candidate bounds") {
    // Engineered-overlap corpus, placed ON the audit sample: doc ids are
    // drawn from the ids that pass d18's seeded 1/17 filter, so every
    // engineered doc enters the sample and the pair census is exact.
    // 20 near-dup pairs (last token changed in 70 → one shingle of 68
    // differs, J = 67/69 ≈ 0.971, decile 9) in disjoint per-group token
    // namespaces, so all 760 cross-group pairs sit at J = 0 (decile 0).
    val passing = spark.range(0, 40000)
      .filter(pmod(PipelineFns.h60(concat(lit("aud:"), col("id").cast("string"))), lit(17)) === 0)
      .limit(40).as[Long].collect().sorted
    assert(passing.length === 40, "need 40 sample-passing ids")

    val docs = (0 until 20).flatMap { g =>
      val toks = (0 until 70).map(k => s"g${g}tok$k")
      val a = toks.mkString(" ")
      val b = toks.updated(69, s"g${g}alt").mkString(" ")
      Seq((passing(2 * g), a), (passing(2 * g + 1), b))
    }
    val dir = tempDir("graft-d18-tune").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val table = graft.SparkEntry.queries("d18_lsh_geometry_audit")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(4), r.getDouble(5)))
      .toMap // decile -> (n_pairs, band_hit_rate, avg_exact, avg_abs_err)

    val c = graft.GraftConfig.active
    val (n9, hit9, exact9, err9) = table(9L)
    assert(n9 === 20L, s"near-dup pairs must land in decile 9: $table")
    assert(exact9 > 0.95 && exact9 < 0.99, s"engineered J: $exact9")
    // the recall bound the preset was committed for (GraftConfigSpec
    // asserts candidateProb >= 0.95 at J = 0.8), observed on data
    assert(hit9 >= 0.95, s"empirical near-dup recall $hit9 < 0.95 " +
      s"(analytic ${c.candidateProb(exact9)})")
    val (n0, hit0, _, err0) = table(0L)
    assert(n0 === 760L, s"cross-group pairs must land in decile 0: $table")
    // the false-candidate bound (analytic <= 0.25 at J = 0.25; at J = 0
    // collisions need accidental slice agreement — near zero)
    assert(hit0 <= 0.05, s"empirical false-candidate rate $hit0")
    // the minhash estimator column is a usable error gauge (8 slices →
    // per-pair sd ≈ 0.17; decile means are far tighter)
    assert(err9 <= 0.3 && err0 <= 0.3, s"estimator error: d9=$err9 d0=$err0")
  }

  test("v14 recall table is monotone in nprobe and justifies a small probe count on testdata") {
    // The serving-knob contract: candidate sets are nested in nprobe, so
    // per-query recall@5 must be non-decreasing — and at this corpus's
    // geometry a small probe count already recovers most of the exact
    // top-5, which is exactly why AnnDemo's nprobe_sweep (same sweep at
    // the serving index's geometry) is what sets the deployed knob.
    val rows = graft.SparkEntry.queries("v14_ivf_nprobe_sweep")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    val byQuery = rows.groupBy(_._2)
    for ((q, rs) <- byQuery) {
      val hits = rs.sortBy(_._1).map(_._3)
      assert(hits === hits.sorted, s"recall must be monotone in nprobe for query $q: ${rs.toSeq}")
    }
    val meanRecall = rows.groupBy(_._1).map { case (np, rs) =>
      np -> rs.map(_._3).sum.toDouble / (5.0 * rs.length)
    }
    val maxNp = meanRecall.keys.max
    assert(meanRecall(maxNp) >= 0.5, s"recall floor at nprobe=$maxNp: $meanRecall")
    assert(meanRecall(maxNp) >= meanRecall(meanRecall.keys.min), s"$meanRecall")
  }
}
