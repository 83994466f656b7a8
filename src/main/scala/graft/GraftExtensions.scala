package graft

import graft.functions.{CosineSim, NfcNormalize, SimHash64Expr, WordNgrams}
import graft.plans.RangeJoinRewrite
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: the way to ship the engine's Catalyst
  * surface to a cluster — `--conf spark.sql.extensions=graft.GraftExtensions`.
  * Injects every function of `GraftExtensions.functions` and the
  * `RangeJoinRewrite` optimizer rule into each session built with it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
  }
}

/** The one table of the engine's native functions, and `install`, which
  * puts the same surface into a session that already exists. */
object GraftExtensions {

  private def fn(name: String, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Codegen Catalyst expressions, callable from `expr(...)` and SQL. */
  private[graft] val functions = Seq(
    fn("cosine_sim", classOf[CosineSim])(e => CosineSim(e(0), e(1))),
    fn("simhash64", classOf[SimHash64Expr])(e => SimHash64Expr(e.head)),
    fn("nfc_normalize", classOf[NfcNormalize])(e => NfcNormalize(e.head)),
    // the window `n` must be a foldable integer literal
    fn("word_ngrams", classOf[WordNgrams])(e =>
      WordNgrams(e.head, e(1).eval(null).asInstanceOf[Int])))

  /** Registers every function of the table in `spark`'s function
    * registry, and appends `RangeJoinRewrite` to its extra optimizations
    * unless it is there already, keeping any other rule. Idempotent: a
    * second call changes nothing (re-registering the same entry is a
    * no-op). The rule is inert until the session sets
    * `RangeJoinRewrite.WidthConf`; a session built with the extension
    * also carries it in its operator-optimization batch, where a join it
    * rewrote cannot match again. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(RangeJoinRewrite))
      spark.experimental.extraOptimizations = rules :+ RangeJoinRewrite
  }
}
