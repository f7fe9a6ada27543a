package graft.functions

import graft.vlm.Geo
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the hot geometry kernels. The Scala-UDF forms
  * work but pay CatalystTypeConverters boxing for every nested
  * `Seq[Seq[Double]]` crossing the UDF boundary — per-row, per-vertex; in
  * the pair-join tasks that conversion dominated the kernel itself. These
  * expressions read/write `ArrayData` directly.
  */

/** 8 oriented-box vertices from the 9-DoF fields packed as an
  * array<double> of length 9 (x,y,z,xl,yl,zl,pitch,yaw,roll) — one input
  * keeps the expression unary and the call sites tidy.
  */
case class BoxVertices(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"box_vertices requires array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "box_vertices"

  override def nullSafeEval(input: Any): Any =
    BoxVertices.compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.BoxVertices.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): BoxVertices =
    copy(child = newChild)
}

object BoxVertices {
  def compute(f: ArrayData): ArrayData = {
    val v = Geo.bboxVertices(
      f.getDouble(0), f.getDouble(1), f.getDouble(2),
      f.getDouble(3), f.getDouble(4), f.getDouble(5),
      f.getDouble(6), f.getDouble(7), f.getDouble(8))
    val rows = new Array[AnyRef](8)
    var i = 0
    while (i < 8) { rows(i) = new GenericArrayData(v(i)); i += 1 }
    new GenericArrayData(rows)
  }
}

/** Min pairwise vertex distance between two 8-vertex boxes
  * (geometry.py:98-118): 64 distances, take the min — straight nested
  * loops over ArrayData, no allocation.
  */
case class MinBoxDistance(left: Expression, right: Expression) extends BinaryExpression {

  private val vertsType = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"min_box_distance requires two array<array<double>>, got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "min_box_distance"

  override def nullSafeEval(a: Any, b: Any): Any =
    MinBoxDistance.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.MinBoxDistance.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MinBoxDistance =
    copy(left = newLeft, right = newRight)
}

/** Min camera→vertex distance (geometry.py:165-189): camera position as
  * array<double>(3), vertices as array<array<double>>.
  */
case class CameraToBoxDistance(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"camera_to_box_distance requires (array<double>, array<array<double>>), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "camera_to_box_distance"

  override def nullSafeEval(cam: Any, verts: Any): Any =
    CameraToBoxDistance.compute(cam.asInstanceOf[ArrayData], verts.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.CameraToBoxDistance.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CameraToBoxDistance =
    copy(left = newLeft, right = newRight)
}

object CameraToBoxDistance {
  def compute(cam: ArrayData, verts: ArrayData): Double = {
    val cx = cam.getDouble(0); val cy = cam.getDouble(1); val cz = cam.getDouble(2)
    var best = Double.MaxValue
    var i = 0
    val n = verts.numElements()
    while (i < n) {
      val v = verts.getArray(i)
      val dx = v.getDouble(0) - cx
      val dy = v.getDouble(1) - cy
      val dz = v.getDouble(2) - cz
      val d = dx * dx + dy * dy + dz * dz
      if (d < best) best = d
      i += 1
    }
    math.sqrt(best)
  }
}

/** World→camera vertex transform (geometry.py:192-219): inv(extrinsics 4×4)
  * applied to every vertex.
  */
case class ToCameraFrame(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"to_camera_frame requires two array<array<double>>, got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "to_camera_frame"

  override def nullSafeEval(verts: Any, extr: Any): Any =
    ToCameraFrame.compute(verts.asInstanceOf[ArrayData], extr.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.ToCameraFrame.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ToCameraFrame =
    copy(left = newLeft, right = newRight)
}

object ToCameraFrame {
  def compute(verts: ArrayData, extr: ArrayData): ArrayData = {
    val m = Array.ofDim[Double](4, 4)
    var r = 0
    while (r < 4) {
      val row = extr.getArray(r)
      var c = 0
      while (c < 4) { m(r)(c) = row.getDouble(c); c += 1 }
      r += 1
    }
    val inv = Geo.invertRigid(m)
    val n = verts.numElements()
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      val v = verts.getArray(i)
      val x = v.getDouble(0); val y = v.getDouble(1); val z = v.getDouble(2)
      out(i) = new GenericArrayData(Array(
        inv(0)(0) * x + inv(0)(1) * y + inv(0)(2) * z + inv(0)(3),
        inv(1)(0) * x + inv(1)(1) * y + inv(1)(2) * z + inv(1)(3),
        inv(2)(0) * x + inv(2)(1) * y + inv(2)(2) * z + inv(2)(3)
      ))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object MinBoxDistance {
  def compute(a: ArrayData, b: ArrayData): Double = {
    var best = Double.MaxValue
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    while (i < na) {
      val va = a.getArray(i)
      val ax = va.getDouble(0); val ay = va.getDouble(1); val az = va.getDouble(2)
      var j = 0
      while (j < nb) {
        val vb = b.getArray(j)
        val dx = ax - vb.getDouble(0)
        val dy = ay - vb.getDouble(1)
        val dz = az - vb.getDouble(2)
        val d = dx * dx + dy * dy + dz * dz
        if (d < best) best = d
        j += 1
      }
      i += 1
    }
    math.sqrt(best)
  }
}

/** Enhanced relative position of box 1 w.r.t. box 2 from their camera-frame
  * vertices (geometry.py:424-495): struct(depth, horizontal, vertical
  * relation, center distance), the struct `Geo.enhancedRelativePosition`'s
  * tuple encodes to. The arithmetic runs in that function's order — per-axis
  * vertex sums from 0.0, then `/ n`, then the same center distance — so the
  * results are bit-equal; no per-row allocation beyond the result row.
  */
case class RelativePosition(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"relative_position requires two array<array<double>>, got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = RelativePosition.resultType
  override def prettyName: String = "relative_position"

  override def nullSafeEval(a: Any, b: Any): Any =
    RelativePosition.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.RelativePosition.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RelativePosition =
    copy(left = newLeft, right = newRight)
}

object RelativePosition {
  /** `Geo.enhancedRelativePosition`'s default threshold, in meters. */
  val Threshold = 0.1

  val resultType: StructType = StructType(Seq(
    StructField("_1", StringType), StructField("_2", StringType), StructField("_3", StringType),
    StructField("_4", DoubleType, nullable = false)))

  private def utf8(s: String*): Array[UTF8String] = s.map(UTF8String.fromString).toArray
  // (same, negative difference, positive difference) per axis
  private val depth = utf8("Same depth", "Nearer", "Farther")
  private val horizontal = utf8("Same horizontal position", "Left", "Right")
  private val vertical = utf8("Same vertical position", "Above", "Below")

  private def relation(d: Double, labels: Array[UTF8String]): UTF8String =
    if (math.abs(d) < Threshold) labels(0) else if (d < 0) labels(1) else labels(2)

  def compute(a: ArrayData, b: ArrayData): InternalRow = {
    val na = a.numElements(); val nb = b.numElements()
    var ax = 0.0; var ay = 0.0; var az = 0.0
    var i = 0
    while (i < na) {
      val v = a.getArray(i); ax += v.getDouble(0); ay += v.getDouble(1); az += v.getDouble(2); i += 1
    }
    var bx = 0.0; var by = 0.0; var bz = 0.0
    i = 0
    while (i < nb) {
      val v = b.getArray(i); bx += v.getDouble(0); by += v.getDouble(1); bz += v.getDouble(2); i += 1
    }
    ax /= na; ay /= na; az /= na
    bx /= nb; by /= nb; bz /= nb
    val dx = ax - bx; val dy = ay - by; val dz = az - bz
    new GenericInternalRow(Array[Any](
      relation(dz, depth), relation(dx, horizontal), relation(dy, vertical),
      math.sqrt(dx * dx + dy * dy + dz * dz)))
  }
}
