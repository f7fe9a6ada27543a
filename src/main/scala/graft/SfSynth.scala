package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a k×-scaled COMPLETE testdata directory from a driver sf dir —
  * the input for the one-off large-scale full-catalog bench (the driver's
  * testdata stops at sf0.1; ×10 of it is the "sf1" geometry all per-query
  * scaling claims are checked against).
  *
  * The three corpus tables (documents / embeddings / events) reuse
  * [[ScaleBench.synthesize]] — Caesar-rotation / cyclic-shift / id-stride
  * reseeding that keeps corpus statistics scale-invariant (see the scaling
  * rationale there). The TPC-H-ish star tables replicate with per-table
  * key strides so REFERENTIAL INTEGRITY holds at every scale:
  *
  *  - `region` / `nation` pass through unscaled — they are fixed-cardinality
  *    dimensions (the real-world shape: country lists don't grow with the
  *    fact volume), so broadcast-dim joins stay broadcast-sized.
  *  - `customer` / `supplier` / `part` replicas offset their primary key by
  *    r × (max(key)+1); nation FKs pass through (valid against the fixed dim).
  *  - `orders` offsets o_orderkey and o_custkey by the SAME strides used
  *    for their parents, so replica r's orders reference replica r's
  *    customers — per-key group sizes stay constant while key counts grow
  *    ×k, which is how a real corpus grows.
  *  - `lineitem` offsets l_orderkey / l_partkey / l_suppkey likewise.
  *  - All non-key columns (dates, prices, flags) pass through untouched:
  *    value distributions, selectivities, and per-group cardinalities are
  *    scale-invariant, so a query's output grows ×k exactly when its
  *    result is keyed on a scaled dimension.
  *
  *   runMain graft.SfSynth [srcDir] [dstDir] [k]
  */
object SfSynth {

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1

  /** Replicate `df` k times, offsetting each column in `keys` by
    * r × its declared stride.
    */
  private def replicate(df: DataFrame, k: Int, keys: Map[String, Long]): DataFrame =
    (0 until k).map { r =>
      df.select(df.columns.map { c =>
        keys.get(c) match {
          case Some(st) => (col(c) + lit(r * st)).as(c)
          case None => col(c)
        }
      }: _*)
    }.reduce(_ unionAll _)

  def synthesizeStar(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    // fixed dims: straight copy
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$dst/$t.parquet")

    val customer = spark.read.parquet(s"$src/customer.parquet")
    val supplier = spark.read.parquet(s"$src/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val custStride = stride(customer, "c_custkey")
    val suppStride = stride(supplier, "s_suppkey")
    val partStride = stride(part, "p_partkey")
    val orderStride = stride(orders, "o_orderkey")

    replicate(customer, k, Map("c_custkey" -> custStride))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    replicate(supplier, k, Map("s_suppkey" -> suppStride))
      .write.mode("overwrite").parquet(s"$dst/supplier.parquet")
    replicate(part, k, Map("p_partkey" -> partStride))
      .write.mode("overwrite").parquet(s"$dst/part.parquet")
    replicate(orders, k, Map("o_orderkey" -> orderStride, "o_custkey" -> custStride))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    replicate(lineitem, k, Map(
      "l_orderkey" -> orderStride, "l_partkey" -> partStride, "l_suppkey" -> suppStride))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.getOrCreate()
    val t0 = System.nanoTime()
    val (nDocs, nVecs) = ScaleBench.synthesize(spark, src, dst, k)
    synthesizeStar(spark, src, dst, k)
    val nLi = spark.read.parquet(s"$dst/lineitem.parquet").count()
    println(f"[sfsynth] k=$k docs=$nDocs vecs=$nVecs lineitem=$nLi in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $dst")
    spark.stop()
  }
}
