package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd marker-table language ID over lowercased text — see
  * [[graft.functions.LangIdKernel.langId]]. One byte scan per row, no
  * decode to `String` and no regex, and the projection stays inside
  * the scan's whole-stage-codegen span. Null in, null out. Used by
  * [[graft.pipeline.TextAnalysis.langId]].
  */
case class LangIdExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName needs string, got $other")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lang_id"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.LangIdKernel.langId(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangIdKernel.langId($c)")

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}
