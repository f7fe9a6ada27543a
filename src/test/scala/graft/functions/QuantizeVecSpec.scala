package graft.functions

import graft.vlm.SparkSpec
import org.apache.spark.sql.functions._

/** QuantizeVec must equal the built-in chain it replaces:
  * transform(v, x -> round(double(x) * scale, 0).cast(long)).
  */
class QuantizeVecSpec extends SparkSpec {

  private def builtinChain(v: org.apache.spark.sql.Column, scale: Int) =
    transform(v, x => round(x.cast("double") * scale, 0).cast("long"))

  test("HALF_UP ties round away from zero like the built-in round") {
    val s = spark
    import s.implicits._
    // scale 2 makes exact binary .5 ties: 0.25·2 = 0.5 → 1, −0.25·2 → −1
    val df = Seq(Seq(0.25f, 0.75f, -0.25f, -0.75f, 1.25f, 0f))
      .toDF("v")
      .select(
        quantizeVec(col("v"), 2).as("custom"),
        builtinChain(col("v"), 2).as("builtin"))
    val r = df.collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 2L, -1L, -2L, 3L, 0L))
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
  }

  test("matches the built-in chain on seeded random float vectors (scale 1000)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = Seq.fill(200)(Seq.fill(64)((rnd.nextDouble() * 2000 - 1000).toFloat))
    val rows = vecs.toDF("v").select(
      quantizeVec(col("v"), 1000).as("custom"),
      builtinChain(col("v"), 1000).as("builtin")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("null array and double input are handled; SQL registration works") {
    val s = spark
    import s.implicits._
    val df = Seq((1, Seq(1.0004, 1.0005)), (2, null.asInstanceOf[Seq[Double]]))
      .toDF("id", "v")
      .select(col("id"), quantizeVec(col("v"), 1000).as("q"))
      .orderBy("id").collect()
    assert(df(0).getSeq[Long](1) == Seq(1000L, 1001L))
    assert(df(1).isNullAt(1))
    val viaSql = spark.sql("SELECT quantize_vec(array(CAST(0.0015 AS DOUBLE)), 1000) AS q")
      .collect().head.getSeq[Long](0)
    assert(viaSql == Seq(2L))
  }
}
