package graft

import graft.queries.CurationQueries
import graft.vlm.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Range buckets are a function of the rows: the same rows, in any
  * partition order and partition count, give the same bounds and so the
  * same buckets. An input whose order follows a shuffle (the funnel's
  * cached frame) would otherwise give different buckets, and different
  * export shards, on every run of identical code.
  */
class RangeBucketsSpec extends SparkSpec {

  private val schema = new StructType()
    .add("doc_id", LongType).add("source", StringType).add("nt", LongType).add("qi", LongType)

  // more rows than the sampler keeps, with repeated keys
  private val rows: Seq[Row] = {
    val r = new scala.util.Random(3)
    (1 to 5000).map(i => Row(i.toLong, s"src${r.nextInt(5)}", 1L + r.nextInt(50), r.nextInt(200).toLong * 5000))
  }

  private def frame(rs: Seq[Row], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, partitions), schema)

  test("the same rows in another order and partition count give equal bounds") {
    val a = frame(rows, 3)
    val b = frame(new scala.util.Random(9).shuffle(rows).reverse, 7)
    for (keys <- Seq(Seq(col("source"), -col("qi"), col("doc_id")), Seq(col("qi")), Seq(col("source")))) {
      val ba = RangeBuckets.sampleBounds(a, keys, 8, "test bounds")
      val bb = RangeBuckets.sampleBounds(b, keys, 8, "test bounds")
      assert(ba.values == bb.values, keys.mkString(", "))
      assert(ba.buckets > 1 && ba.buckets <= 8, ba.buckets)
    }
    // five distinct sources: at most five ranges, however many are asked for
    assert(RangeBuckets.sampleBounds(a, Seq(col("source")), 8, "test bounds").buckets <= 5)
  }

  test("two budgetSelect calls on the same rows give equal bucket sizes") {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(k)
    spark.conf.set(k, "false") // every bucket is read on its own
    def sizes(df: DataFrame): Seq[Int] =
      CurationQueries.budgetSelect(df, 8).queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    try {
      val a = sizes(frame(rows, 3))
      val b = sizes(frame(rows.reverse, 5))
      assert(a == b)
      assert(a.size == 8 && a.count(_ > 0) > 1, a)
    } finally spark.conf.set(k, was)
  }
}
