package graft.queries

import graft.vlm.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVF search core's contracts on hand-built frames: the top-k order
  * is total, short candidate lists stay short, recall counts an empty
  * approximate arm as zero, escalation honours its floor / first-prefix /
  * cap rules and never counts the query itself, and the probe ranking
  * breaks distance ties by cell id.
  */
class SearchCoreSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("query_id"), col("vec_id")).as[(Long, Long)].collect().toSeq.sorted

  test("topK: a score tie is ranked by the lower vec_id, in both directions") {
    val cand = Seq((1L, 5L, 10L), (1L, 3L, 10L), (1L, 4L, 20L), (1L, 2L, 20L))
      .toDF("query_id", "vec_id", "s")
    assert(ids(IvfCentroids.topK(cand, "s", 1, asc = true)) == Seq((1L, 3L)))
    assert(ids(IvfCentroids.topK(cand, "s", 1, asc = false)) == Seq((1L, 2L)))
    val ranks = IvfCentroids.topK(cand, "s", 4, asc = true)
      .select(col("vec_id"), col("rk")).as[(Long, Int)].collect().toMap
    assert(ranks == Map(3L -> 1, 5L -> 2, 2L -> 3, 4L -> 4))
  }

  test("topK: fewer than k candidates returns fewer rows, ranked per query") {
    val cand = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (1L, 13L, 4L),
      (2L, 20L, 7L), (2L, 21L, 5L)).toDF("query_id", "vec_id", "s")
    val top = IvfCentroids.topK(cand, "s", 3, asc = true)
    assert(ids(top) == Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L)))
    assert(top.filter(col("query_id") === 2L).select(col("vec_id"), col("rk"))
      .as[(Long, Int)].collect().toMap == Map(21L -> 1, 20L -> 2))
  }

  test("recall: a query with no approximate rows gets n_hit = 0, n_approx = 0, recall 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L)).toDF("query_id", "neighbor_id")
    val r = IvfCentroids.recall(exact, approx, 2)
    assert(r.columns.toSeq == Seq("query_id", "n_exact", "n_approx", "n_hit", "recall_at_2"))
    val rows = r.as[(Long, Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(rows(1L) == ((1L, 2L, 2L, 1L, 0.5)))
    assert(rows(2L) == ((2L, 2L, 0L, 0L, 0.0)))
    val perNp = IvfCentroids.recall(exact.withColumn("nprobe", lit(4)),
      approx.withColumn("nprobe", lit(4)), 2, Seq("nprobe", "query_id"))
    assert(perNp.columns.take(2).toSeq == Seq("nprobe", "query_id"))
    assert(perNp.count() == 2)
  }

  // six cells ranked 1..6 in cell-id order for every query; hist is the
  // per-(cell, label) mass of label "a"
  private val hist = Seq((1L, "a", 5L), (3L, "a", 3L), (4L, "a", 1L), (5L, "a", 1L))
    .toDF("cell", "qlabel", "n_cl")
  private def ranked(queries: (Long, Long)*): DataFrame =
    queries.flatMap { case (qid, qcell) =>
      (1L to 6L).map(c => (qid, "a", qcell, c, c.toInt))
    }.toDF("query_id", "qlabel", "qcell", "cell", "prk")

  private def npUsed(target: Int, queries: (Long, Long)*): Map[Long, Long] =
    IvfCentroids.escalate(ranked(queries: _*), hist, target)
      .groupBy(col("query_id")).agg(max(col("np_used")), count(lit(1)))
      .as[(Long, Long, Long)].collect().map { case (q, np, n) =>
        assert(np == n, s"query $q: the probe table must hold exactly np_used cells")
        q -> np
      }.toMap

  test("escalate: floored at NumProbe when the first cell already reaches the target") {
    assert(IvfCentroids.NumProbe == 2)
    // cell 1 alone holds 5 ≥ 3 — the floor still probes 2 cells
    assert(npUsed(3, 1L -> 6L) == Map(1L -> 2L))
  }

  test("escalate: stops at the first prefix reaching the target, capped at C") {
    // cum over cells 1..6 = 5, 5, 8, 9, 10, 10
    assert(npUsed(8, 1L -> 6L) == Map(1L -> 3L))
    assert(npUsed(10, 1L -> 6L) == Map(1L -> 5L))
    // 11 is unreachable: every cell is probed (np = C = 6)
    assert(npUsed(11, 1L -> 6L) == Map(1L -> 6L))
  }

  test("escalate: the query's own vector is excluded from its cell's mass") {
    // query 2 sits in cell 3: its cum = 5, 5, 7, 8, 9, 9 → target 8 at prk 4,
    // one cell deeper than query 1 (cell 6, not a massed cell) needs
    assert(npUsed(8, 1L -> 6L, 2L -> 3L) == Map(1L -> 3L, 2L -> 4L))
    val cols = IvfCentroids.escalate(ranked(1L -> 6L), hist, 8).columns.toSeq
    assert(cols == Seq("query_id", "qlabel", "cell", "np_used"))
  }

  test("probeRanking: keyed by query_id, carries the query's columns, ties to the lower cell") {
    val cent = Seq((7L, Seq(1L, 0L)), (2L, Seq(-1L, 0L)), (5L, Seq(0L, 3L))).toDF("cid", "cq")
    val queries = Seq((9L, Seq(0L, 0L), "x")).toDF("query_id", "qq", "tag")
    val r = IvfCentroids.probeRanking(queries, cent)
    assert(r.columns.toSeq == Seq("query_id", "qq", "tag", "cell", "prk"))
    // cells 7 and 2 are both at distance 1: the lower id ranks first
    assert(r.select(col("cell"), col("prk")).as[(Long, Int)].collect().toMap ==
      Map(2L -> 1, 7L -> 2, 5L -> 3))
  }

  test("score kernels: asymmetric L2 and cosine from exact integer parts") {
    val df = Seq((Seq(3L, 4L), 25L, Seq(1L, 1L), 2L)).toDF("q", "n2", "qq", "qn2")
    val row = df.select(
      IvfCentroids.adist(col("q"), col("n2"), col("qq"), col("qn2")),
      IvfCentroids.l2(col("q"), col("qq")),
      IvfCentroids.cosine(col("q"), col("qq"), col("n2"), col("qn2"))).head()
    assert(row.getLong(0) == 13L && row.getLong(1) == 13L)
    assert(math.abs(row.getDouble(2) - 7.0 / (5.0 * math.sqrt(2.0))) < 1e-12)
  }
}
