package graft.queries

import graft.SparkEntry
import graft.vlm.SparkSpec

/** Semantic pin for m11_budget_select and the funnel's eager
  * [[CurationQueries.budgetSelect]], independent of the DuckDB oracle:
  * a plain-Scala recompute of the quality ranking and tiered budgets,
  * asserting each kept set is exactly the per-source MAXIMAL prefix —
  * every kept doc fits the budget cumulatively, and the first unkept doc
  * in rank order would overflow it. The oracle hash pins m11's bytes;
  * this spec pins the meaning of both paths (so an oracle-and-engine-
  * synchronized semantics drift would still be caught).
  */
class BudgetSelectSpec extends SparkSpec {

  test("m11 keeps, per source, the maximal quality-ranked prefix under the tiered budget") {
    val sf = "/root/testdata/sf0.001"
    def keptBy(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet // (source, doc_id)
    // the funnel's eager path on the same candidates m11 ranks
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), PipelineFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), size(col("toks")).cast("long").as("nt"),
        floor(size(array_distinct(col("toks"))).cast("double") * lit(1000000) / size(col("toks")).cast("double"))
          .cast("long").as("qi"))
      .filter(col("nt") > 0)
    val keptSets = Seq(
      "m11" -> keptBy(SparkEntry.queries("m11_budget_select")(spark, sf)),
      "budgetSelect" -> keptBy(CurationQueries.budgetSelect(base, 4)))

    // independent recompute in plain Scala: same tokenizer regex, same
    // integer-ppm quality, same tier rule, same floor arithmetic
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map { r =>
        val toks = "[a-z0-9]+".r.findAllIn(r.getString(2).toLowerCase).toSeq
        val nt = toks.size.toLong
        val qi = math.floor(toks.distinct.size.toDouble * 1000000 / nt).toLong
        (r.getLong(0), r.getString(1), nt, qi)
      }
    val perSource = docs.groupBy(_._2)
    val supply = perSource.view.mapValues(_.map(_._3).sum).toMap
    val tier = supply.keys.map(s => s -> (1L + s.drop(3).toLong % 3)).toMap
    val budget = math.floor(supply.values.sum.toDouble / 2)
    val totalTier = tier.values.sum
    val target = tier.map { case (s, t) =>
      s -> math.floor(budget * t / totalTier).toLong
    }

    for ((path, kept) <- keptSets) {
      for ((src, rows) <- perSource) {
        val ranked = rows.sortBy(r => (-r._4, r._1)) // quality desc, doc_id asc
        val cums = ranked.scanLeft(0L)(_ + _._3).tail
        val wantPrefix = ranked.zip(cums).takeWhile(_._2 <= target(src)).map(_._1._1)
        val got = ranked.map(_._1).filter(id => kept.contains((src, id)))
        assert(got.toSeq == wantPrefix.toSeq,
          s"$path $src: kept ${got.size} docs, expected the ${wantPrefix.size}-doc prefix")
        // maximality: the next-ranked doc (if any) would overflow the budget
        if (wantPrefix.size < ranked.size) {
          val overflow = cums(wantPrefix.size)
          assert(overflow > target(src),
            s"$path $src: prefix not maximal — next doc still fits ($overflow <= ${target(src)})")
        }
      }
      assert(kept.nonEmpty, s"$path kept nothing at sf0.001")
    }
  }
}
