package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit SimHash of a string column.
  *
  * The Dataset.map route (x07's original form) deserializes every row to
  * a Scala tuple, breaking whole-stage codegen around the sketch; this
  * expression keeps the row pipeline inside codegen — the generated Java
  * calls straight into the same `TextSketch.simhash64` kernel (the
  * standard runtime-helper pattern Spark's own regexp/string expressions
  * use), so expression and kernel can never drift apart.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects string; got $t")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    TextSketch.simhash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextSketch.simhash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
