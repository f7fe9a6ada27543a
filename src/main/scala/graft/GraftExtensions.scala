package graft

import graft.functions.{LongDot, QuantizeVec, ShingleHashes, SimHash56}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer: registers graft's custom expressions
  * for SQL use (`SELECT simhash56(hashes) ...`) and the
  * [[graft.plans.RangeJoinRewrite]] optimizer rule. Every session
  * [[GraftSession]] builds carries it in `spark.sql.extensions`, which
  * binds only when a session is created. The DataFrame API
  * ([[graft.functions]]) works without registration (and without the rule,
  * marked range joins still compute the same result on the unrewritten
  * plan).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def function(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
    function("simhash56", classOf[SimHash56])(c => SimHash56(c.head))
    function("long_dot", classOf[LongDot])(c => LongDot(c(0), c(1)))
    function("quantize_vec", classOf[QuantizeVec])(c => QuantizeVec(c(0), intArg(c(1))))
    function("shingle_hashes", classOf[ShingleHashes])(c => ShingleHashes(c(0), intArg(c(1))))
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}
