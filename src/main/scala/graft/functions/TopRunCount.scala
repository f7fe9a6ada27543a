package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of the most frequent element of an `array<string>` in ONE codegen
  * pass: sort a scratch copy (any total order groups equal values), then
  * take the longest equal-adjacent run — a single tight JVM loop per row
  * where a `sort_array` + `aggregate` HOF chain would interpret a lambda
  * per element and allocate an intermediate sorted array. Over built
  * bigram strings it is the reference semantics of [[TopBigramCount]]
  * (and that kernel's fallback path for arrays its ids cannot represent).
  * Null elements are ignored; an empty (or all-null) array yields 0.
  */
case class TopRunCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"top_run_count requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "top_run_count"

  override def nullSafeEval(input: Any): Any =
    TopRunCount.topRun(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TopRunCount$$.MODULE$$.topRun($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopRunCount {
  def topRun(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val a = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { a(m) = arr.getUTF8String(i); m += 1 }
      i += 1
    }
    if (m == 0) return 0L
    java.util.Arrays.sort(a, 0, m, null) // UTF8String natural (binary) order
    var best = 1L
    var run = 1L
    i = 1
    while (i < m) {
      if (a(i).equals(a(i - 1))) { run += 1; if (run > best) best = run }
      else run = 1
      i += 1
    }
    best
  }
}
