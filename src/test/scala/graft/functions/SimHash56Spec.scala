package graft.functions

import graft.vlm.SparkSpec
import org.apache.spark.sql.functions._

/** SimHash56: the codegen expression must match a straightforward Scala
  * reference implementation, handle nulls, and be callable from SQL once
  * GraftExtensions is installed.
  */
class SimHash56Spec extends SparkSpec {

  private def reference(hs: Seq[Long]): Long = {
    val counts = Array.fill(56)(0)
    hs.foreach { x =>
      (0 until 56).foreach { b => if (((x >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1 }
    }
    (0 until 56).foldLeft(0L) { (sig, b) => if (counts(b) > 0) sig | (1L << b) else sig }
  }

  test("matches the reference implementation on random hash arrays") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(50)(Seq.fill(rng.nextInt(30) + 1)(rng.nextLong().abs % (1L << 60)))
    val got = rows.toDF("hs").select(simhash56(col("hs"))).as[Long].collect()
    assert(got.toSeq == rows.map(reference))
  }

  test("empty array gives 0, null array gives null, null elements ignored") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1, Some(Seq[Option[Long]]())),
      (2, None),
      (3, Some(Seq(Some(7L), None)))
    ).toDF("id", "hs")
    val got = df.select(col("id"), simhash56(col("hs"))).collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(got.toSeq == Seq((1, Some(0L)), (2, None), (3, Some(reference(Seq(7L))))))
  }

  test("callable from SQL after GraftExtensions registration") {
    val s = spark
    import s.implicits._
    val got = s.sql("SELECT simhash56(array(CAST(5 AS BIGINT), CAST(5 AS BIGINT), CAST(2 AS BIGINT)))").as[Long].head()
    assert(got == reference(Seq(5L, 5L, 2L)))
  }
}
