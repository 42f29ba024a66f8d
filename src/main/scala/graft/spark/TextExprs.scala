package graft.spark

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen forms of the tokenizer functions (reference
  * Tokenizer, dlx/util.py:1069-1118). These replace the Scala UDFs on
  * the text hot paths — commit-time text/words derivation, free-text
  * predicates, index builds — so the work stays inside whole-stage
  * codegen with no UDF encoder round-trip on the array output
  * (SURVEY §7 "custom Expression beats UDF"). Row-level semantics
  * live unchanged in graft.text.Tokenizer; callers wrap input with
  * coalesce(c, "") to keep the historical null -> ""/empty behavior
  * (scrub("") == "", tokenize("") == []).
  */
case class ScrubExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    TextExprs.scrub(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.TextExprs.scrub($c)")

  override protected def withNewChildInternal(newChild: Expression): ScrubExpr =
    copy(child = newChild)

  override def prettyName: String = "dlx_scrub"
}

case class TokenizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    TextExprs.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.TextExprs.tokenize($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)

  override def prettyName: String = "dlx_tokenize"
}

object TextExprs {

  /** Static, codegen-callable. */
  def scrub(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.Tokenizer.scrub(s.toString))

  /** Static, codegen-callable. */
  def tokenize(s: UTF8String): ArrayData = {
    val toks = graft.text.Tokenizer.tokenize(s.toString)
    new GenericArrayData(toks.map(t => UTF8String.fromString(t): Any).toArray)
  }
}
