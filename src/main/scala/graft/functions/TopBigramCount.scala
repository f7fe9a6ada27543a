package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of the most frequent word bigram of a token array, without
  * building the bigrams: equal to
  * `top_run_count(shingles(toks, 2))` ([[TopRunCount]] over
  * [[graft.queries.PipelineFns.shingles]]) for every input, and the
  * repetition-quality filter's hot path
  * ([[graft.queries.CurationQueries.curationSignals]]).
  *
  * Each token gets a small integer id from an open-addressing table on
  * `UTF8String` hash/equals; bigram `(a, b)` is the long `id(a)·k + id(b)`
  * for `k` distinct tokens; the longest equal run of the sorted keys is the
  * answer. The ids stand for the joined strings only when `a + " " + b`
  * splits one way, i.e. when no element contains a space, and when no
  * element is null (`array_join` skips nulls); any other array takes the
  * string path. Arrays of 0–1 elements have one bigram window (1); a null
  * array has one null window (0), so the result is never null.
  */
case class TopBigramCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"top_bigram_count requires array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "top_bigram_count"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) 0L else TopBigramCount.count(arr.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L
        : graft.functions.TopBigramCount$$.MODULE$$.count(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopBigramCount {
  private val Space = UTF8String.fromString(" ")

  def count(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n < 2) return 1L
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return viaStrings(arr, n)
      val t = arr.getUTF8String(i)
      if (t.indexOf(Space, 0) >= 0) return viaStrings(arr, n)
      toks(i) = t
      i += 1
    }
    // token ids: slot -> 1 + index of the id's first occurrence (0 = empty)
    val mask = Integer.highestOneBit(2 * n - 1) * 2 - 1 // table >= 2n slots
    val slots = new Array[Int](mask + 1)
    val ids = new Array[Int](n)
    var k = 0
    i = 0
    while (i < n) {
      val t = toks(i)
      var h = t.hashCode & mask
      var id = -1
      while (id < 0) {
        val s = slots(h)
        if (s == 0) { slots(h) = i + 1; id = k; k += 1 }
        else if (toks(s - 1).equals(t)) id = ids(s - 1)
        else h = (h + 1) & mask
      }
      ids(i) = id
      i += 1
    }
    val keys = new Array[Long](n - 1)
    i = 0
    while (i < n - 1) { keys(i) = ids(i).toLong * k + ids(i + 1); i += 1 }
    java.util.Arrays.sort(keys)
    var best = 1L
    var run = 1L
    i = 1
    while (i < keys.length) {
      if (keys(i) == keys(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1
      i += 1
    }
    best
  }

  /** The reference path: the bigram strings as `array_join(slice(toks, i,
    * 2), ' ')` builds them (nulls skipped), counted by [[TopRunCount]].
    */
  private def viaStrings(arr: ArrayData, n: Int): Long = {
    val bigrams = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      bigrams(i) = UTF8String.concatWs(Space, arr.getUTF8String(i), arr.getUTF8String(i + 1))
      i += 1
    }
    TopRunCount.topRun(new GenericArrayData(bigrams))
  }
}
