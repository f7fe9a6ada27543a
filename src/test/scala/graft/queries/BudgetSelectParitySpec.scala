package graft.queries

import graft.vlm.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The funnel's eager [[CurationQueries.budgetSelect]] (range buckets, a
  * running sum carried across buckets from the driver) equals the m11
  * catalog query's lazy composition ([[CurationQueries.budgetSelectPlan]],
  * which the oracle checks) row for row and by schema, on shapes the
  * testdata does not have: quality ties, one quality held by most
  * documents (a hot head key), one source, sources with one row, an input
  * with no partitions, more buckets than rows, and one bucket. Buckets are
  * read one by one (no coalescing), so every bucket boundary is crossed.
  */
class BudgetSelectParitySpec extends SparkSpec {

  private val schema = new StructType()
    .add("doc_id", LongType).add("source", StringType).add("nt", LongType).add("qi", LongType)

  private def frame(rows: Seq[(Long, String, Long, Long)], partitions: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (d, s, n, q) => Row(d, s, n, q) }, partitions), schema)

  private def key(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def random(seed: Int, n: Int, sources: Int, qualities: Int): Seq[(Long, String, Long, Long)] = {
    val r = new scala.util.Random(seed)
    (1 to n).map(i => (i.toLong * 7919 % 100003, s"src${r.nextInt(sources)}",
      1L + r.nextInt(60), r.nextInt(qualities).toLong * 1000))
  }

  private val cases: Seq[(String, Seq[(Long, String, Long, Long)])] = Seq(
    "ties in qi" -> random(1, 400, 4, 5),
    "hot head key: one qi for most documents" -> random(2, 400, 3, 40).zipWithIndex.map {
      case ((d, s, n, q), i) => (d, s, n, if (i % 10 == 0) q else 500000L)
    },
    "single source" -> random(3, 300, 1, 1000),
    "sources with one row" -> (random(4, 200, 2, 1000) ++
      Seq((900001L, "src7", 5L, 10L), (900002L, "src8", 9L, 20L), (900003L, "src9", 1L, 30L))),
    "more buckets than rows" -> Seq((1L, "src1", 1L, 30L), (2L, "src1", 5L, 20L), (3L, "src1", 2L, 10L),
      (4L, "src2", 1L, 10L), (5L, "src2", 1L, 5L), (6L, "src3", 1L, 0L)),
    "seeded random" -> random(5, 1000, 6, 1000000)
  )

  private def withoutCoalescing[T](body: => T): T = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(k)
    spark.conf.set(k, "false")
    try body finally spark.conf.set(k, was)
  }

  test("eager budgetSelect == m11's lazy plan, row for row and by schema") {
    withoutCoalescing {
      for ((label, rows) <- cases; partitions <- Seq(1, 3)) {
        val df = frame(rows, partitions)
        val lazyPlan = CurationQueries.budgetSelectPlan(df, 4)
        val want = key(lazyPlan)
        assert(want.nonEmpty, label)
        for (segments <- Seq(1, 3, 64)) {
          val eager = CurationQueries.budgetSelect(df, segments)
          assert(eager.schema == lazyPlan.schema, s"$label segments=$segments")
          assert(key(eager) == want, s"$label partitions=$partitions segments=$segments diverges")
        }
      }
    }
  }

  test("an input with no partitions selects nothing, with m11's schema") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(empty.rdd.getNumPartitions == 0)
    val eager = CurationQueries.budgetSelect(empty, 4)
    assert(eager.schema == CurationQueries.budgetSelectPlan(empty, 4).schema)
    assert(eager.collect().isEmpty)
  }
}
