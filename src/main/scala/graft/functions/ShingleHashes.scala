package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-`n`-gram shingle digests of a text column, in one pass:
  * lowercase → `[a-z0-9]+` tokens → space-joined n-token windows →
  * first-occurrence-distinct → 60-bit md5-derived hash per shingle
  * (the first 15 hex digits of md5, i.e. the engine-wide `h60`).
  *
  * Exactly equivalent to the composed built-ins
  * `transform(array_distinct(shingles(tokens(text), n)), h60)` — and to the
  * DuckDB rendering used by the oracles — but a single tight JVM scan
  * instead of four interpreted higher-order passes building throwaway
  * intermediate arrays; ~5× faster shingle-set materialization at sf0.1.
  * Long digests keep downstream work integer-only: Jaccard intersects
  * longs, and minhash slices are bit shifts ([[MinHash8]]).
  *
  * Tokenization matches `regexp_extract_all(lower(text), '[a-z0-9]+')`
  * through the tokenizer's byte scanner ([[AlnumTokens.runs]]).
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(s"shingle size must be >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.ShingleHashes.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    // mirror lower(text) exactly (UTF8String handles non-ASCII lowering)
    val lowered = text.toLowerCase
    val bytes = lowered.getBytes
    // tokens: the ASCII [a-z0-9] runs, token t = bytes [runs(2t), runs(2t+1))
    val runs = AlnumTokens.runs(lowered)
    val nTokens = runs.length / 2
    // n-token windows, space-joined; window starts 0..max(len-n, 0)
    // (matches shingles(): at least one window even when len < n)
    val nWindows = math.max(nTokens - (n - 1), 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var w = 0
    while (w < nWindows) {
      md.reset()
      // the window's UTF-8 bytes: tokens are ASCII, joined by ' '
      var j = w
      val last = math.min(w + n, nTokens)
      while (j < last) {
        if (j > w) md.update(' '.toByte)
        md.update(bytes, runs(2 * j), runs(2 * j + 1) - runs(2 * j))
        j += 1
      }
      val digest = md.digest()
      // first 15 hex digits = high 60 bits of the first 8 digest bytes,
      // matching conv(substring(md5(x), 1, 15), 16, 10)
      var h60 = 0L
      var h = 0
      while (h < 8) { h60 = (h60 << 8) | (digest(h) & 0xffL); h += 1 }
      h60 = h60 >>> 4
      seen.add(h60)
      w += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }
}
