package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: word n-grams of a token array — every
  * window of `n` consecutive elements joined with a single space.
  *
  * r6 optimization: q12/q28/q49/q78 each built n-grams with interpreted
  * higher-order lambdas (`transform(sequence(...), i -> concat_ws(" ",
  * slice/element_at ...))` / `zip_with(slice, slice, concat)`), which are
  * CodegenFallback — a per-element lambda dispatch with boxed indices,
  * plus the slice()-allocated intermediate arrays. This is the same
  * computation as ONE fused loop over UTF8Strings inside whole-stage
  * codegen.
  *
  * Value equivalence with the replaced forms (all oracle-gated):
  *  - size < n  → empty array (q12/q78 wrapped the transform in
  *    `when(size < n, array())`; q49's slice-zip yields empty; q28 only
  *    evaluates under a size >= n filter);
  *  - size >= n → exactly size-n+1 grams in order, each the windowed
  *    elements joined by " " — `concat_ws(" ", ...)` and
  *    `concat(a, ' ', b)` agree on the non-null strings `split` yields
  *    (UTF8String.concatWs is the engine's own concat_ws kernel).
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_ngrams window must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_ngrams expects array<string>; got $t")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    WordNgrams.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordNgrams.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordNgrams {

  private val Space = UTF8String.fromString(" ")

  /** Runtime kernel (called from generated code and nullSafeEval). */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    val m = sz - n + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m)
    if (n == 2) {
      // hot shape (q49 bigrams): avoid the varargs array per gram
      var prev = arr.getUTF8String(0)
      var i = 0
      while (i < m) {
        val cur = arr.getUTF8String(i + 1)
        out(i) = UTF8String.concatWs(Space, prev, cur)
        prev = cur
        i += 1
      }
    } else {
      val win = new Array[UTF8String](n)
      var i = 0
      while (i < m) {
        var j = 0
        while (j < n) { win(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Space, win: _*)
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}
