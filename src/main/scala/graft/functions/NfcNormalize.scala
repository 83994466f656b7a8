package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization (canonical
  * decomposition + canonical composition, `java.text.Normalizer`).
  *
  * The training-data use: crawled text mixes composed ("é") and
  * decomposed ("e" + U+0301) forms of the same characters, which breaks
  * exact dedup (different md5 for identical text), token counting, and
  * any string-keyed join — normalizing to NFC FIRST is the standard
  * first pass of a corpus pipeline. Canonical (NFC) mappings are frozen
  * by Unicode's stability policy, so the JVM and DuckDB's utf8proc
  * (`nfc_normalize`) agree — which is what makes the q38 oracle
  * possible.
  *
  * Spark has no built-in for this, so per the design preference order
  * (built-in > native Expression > UDF) it is a native `Expression`
  * with `doGenCode`: a fast-path check (`Normalizer.isNormalized`)
  * avoids allocation for the overwhelmingly-already-NFC majority, and
  * the whole thing stays inside whole-stage codegen instead of breaking
  * the pipeline at a UDF boundary.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize expects string, got $other")
    }
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      val str = ctx.freshName("str")
      s"""
         |java.lang.String $str = $c.toString();
         |if (java.text.Normalizer.isNormalized($str, java.text.Normalizer.Form.NFC)) {
         |  ${ev.value} = $c;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize($str, java.text.Normalizer.Form.NFC));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
