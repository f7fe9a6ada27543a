package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The ASCII `[a-z0-9]` runs of an already-lowered string, as an
  * `array<string>`: the engine's word tokenizer over Spark's own
  * `lower(text)` ([[graft.queries.PipelineFns.tokens]]).
  *
  * Exactly `regexp_extract_all(lowered, '[a-z0-9]+', 0)`, data type
  * included, but a byte scan instead of a Java regex over a decoded
  * `String`: UTF-8 lead and continuation bytes are all >= 0x80, so they
  * never fall in ASCII `[a-z0-9]`, and a run of those bytes is a run of
  * those characters. Case mapping stays with the child (`lower`), so
  * Unicode lowering (İ, Σ, the Kelvin sign, …) is Spark's, not ours.
  */
case class AlnumTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"alnum_tokens requires string, got ${other.simpleString}")
  }
  // regexp_extract_all's type: array<string>, containsNull = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "alnum_tokens"

  override def nullSafeEval(input: Any): Any =
    AlnumTokens.tokenize(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AlnumTokens$$.MODULE$$.tokenize($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AlnumTokens {

  @inline private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** Byte offsets of the ASCII `[a-z0-9]` runs of `s`, relative to its
    * first byte: run `r` spans `[runs(2r), runs(2r + 1))`. The one
    * tokenizing scanner of the engine ([[tokenize]], [[ShingleHashes]]).
    */
  def runs(s: UTF8String): Array[Int] = {
    val n = s.numBytes
    var count = 0
    var prev = false
    var i = 0
    while (i < n) {
      val a = isAlnum(s.getByte(i))
      if (a && !prev) count += 1
      prev = a
      i += 1
    }
    val out = new Array[Int](2 * count)
    var r = 0
    i = 0
    while (r < out.length) {
      while (!isAlnum(s.getByte(i))) i += 1
      out(r) = i
      while (i < n && isAlnum(s.getByte(i))) i += 1
      out(r + 1) = i
      r += 2
    }
    out
  }

  /** Static entry point shared by interpreted eval and generated code:
    * each run copied into its own `UTF8String`, so no token pins the
    * input row's buffer.
    */
  def tokenize(lowered: UTF8String): ArrayData = {
    val r = runs(lowered)
    val out = new Array[Any](r.length / 2)
    var t = 0
    while (t < out.length) {
      out(t) = lowered.copyUTF8String(r(2 * t), r(2 * t + 1) - 1) // end inclusive
      t += 1
    }
    new GenericArrayData(out)
  }
}
