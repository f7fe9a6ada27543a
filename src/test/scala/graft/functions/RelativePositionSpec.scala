package graft.functions

import graft.vlm.{Geo, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[RelativePosition]] against the scalar kernel it replaces,
  * `Geo.enhancedRelativePosition`: the three relations equal and the center
  * distance bit-equal, through the generated code (an RDD-backed frame under
  * whole-stage codegen) and through direct `eval`. The result type is the
  * struct the former Scala UDF over that kernel returned.
  */
class RelativePositionSpec extends SparkSpec {

  private val vertsType = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  private val schema = StructType(Seq(StructField("a", vertsType), StructField("b", vertsType)))

  /** A box whose vertex mean is exactly `c`: one vertex holds 8·c (exact),
    * the other seven are 0, so sum and `/ 8` round nowhere.
    */
  private def exactCenter(c: Array[Double]): Array[Array[Double]] =
    Array(c.map(_ * 8)) ++ Array.fill(7)(Array(0.0, 0.0, 0.0))

  private val origin = exactCenter(Array(0.0, 0.0, 0.0))

  private def randomBox(rng: scala.util.Random): Array[Array[Double]] = {
    def u(lo: Double, hi: Double) = lo + rng.nextDouble() * (hi - lo)
    Geo.bboxVertices(u(-5, 5), u(-3, 3), u(0.2, 10), u(0.05, 3), u(0.05, 3), u(0.05, 3),
      u(-1, 1), u(-1, 1), u(-1, 1))
  }

  /** Random box pairs, pairs one threshold apart on an axis (shifted
    * vertices, so the difference lands within rounding of ±0.1), and pairs
    * whose center difference is exactly ±0.1 or one ulp either side.
    */
  private def pairs(seed: Int, n: Int): Seq[(Array[Array[Double]], Array[Array[Double]])] = {
    val rng = new scala.util.Random(seed)
    val random = Seq.fill(n)((randomBox(rng), randomBox(rng)))
    val shifted = Seq.fill(n / 2) {
      val a = randomBox(rng)
      val axis = rng.nextInt(3)
      val d = if (rng.nextBoolean()) 0.1 else -0.1
      (a, a.map(v => v.indices.map(k => if (k == axis) v(k) + d else v(k)).toArray))
    }
    val edges = for {
      t <- Seq(0.1, -0.1)
      d <- Seq(t, math.nextUp(t), math.nextDown(t))
      axis <- 0 until 3
    } yield (exactCenter(Array.tabulate(3)(k => if (k == axis) d else 0.0)), origin)
    random ++ shifted ++ edges
  }

  private def check(got: InternalRow, a: Array[Array[Double]], b: Array[Array[Double]]): Unit = {
    val (d, h, v, cd) = Geo.enhancedRelativePosition(a, b)
    val ctx = s"a=${a.map(_.mkString(",")).mkString(";")} b=${b.map(_.mkString(",")).mkString(";")}"
    assert(got.getUTF8String(0).toString == d, ctx)
    assert(got.getUTF8String(1).toString == h, ctx)
    assert(got.getUTF8String(2).toString == v, ctx)
    assert(java.lang.Double.doubleToRawLongBits(got.getDouble(3)) == java.lang.Double.doubleToRawLongBits(cd), ctx)
  }

  test("relative_position equals Geo.enhancedRelativePosition under codegen and interpreted eval") {
    val ps = pairs(seed = 7, n = 2000)
    assert(ps.size >= 2000)
    val rows = ps.map { case (a, b) => Row(a.map(_.toSeq).toSeq, b.map(_.toSeq).toSeq) } ++
      Seq(Row(null, origin.map(_.toSeq).toSeq), Row(origin.map(_.toSeq).toSeq, null), Row(null, null))
    val df: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .select(relativePosition(col("a"), col("b")).as("rp"))
    assert(df.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined)
    val got = df.queryExecution.toRdd.map(_.getStruct(0, 4) match {
      case null => null
      case r => r.copy()
    }).collect()
    assert(got.length == rows.length)
    ps.zip(got).foreach { case ((a, b), r) => check(r, a, b) }
    assert(got.takeRight(3).forall(_ == null), "null inputs give a null struct")

    // the edge pairs cover all three relations of every axis
    val labels = got.filter(_ != null).flatMap(r => (0 until 3).map(r.getUTF8String(_).toString)).toSet
    assert(Set("Same depth", "Nearer", "Farther", "Same horizontal position", "Left", "Right",
      "Same vertical position", "Above", "Below").subsetOf(labels))

    def lit(v: Array[Array[Double]]) = Literal.create(if (v == null) null else v.map(_.toSeq).toSeq, vertsType)
    ps.foreach { case (a, b) =>
      check(RelativePosition(lit(a), lit(b)).eval(null).asInstanceOf[InternalRow], a, b)
    }
    assert(RelativePosition(lit(null), lit(origin)).eval(null) == null)
    assert(RelativePosition(lit(origin), lit(null)).eval(null) == null)
  }

  test("result type is the struct the Scala UDF over Geo.enhancedRelativePosition returned") {
    val reference = udf { (a: Seq[Seq[Double]], b: Seq[Seq[Double]]) =>
      Geo.enhancedRelativePosition(a.map(_.toArray).toArray, b.map(_.toArray).toArray)
    }
    val box = origin.map(_.toSeq).toSeq
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(box, box)), 1), schema)
      .select(relativePosition(col("a"), col("b")).as("kernel"), reference(col("a"), col("b")).as("udf"))
    assert(df.schema("kernel").dataType == df.schema("udf").dataType)
    val r = df.head()
    assert(r.getStruct(0) == r.getStruct(1))
  }
}
