package graft.spark

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the strength-1 collation shadow
  * (lowercase + diacritic strip). Stays inside whole-stage codegen —
  * no UDF serialization on the predicate hot path (SURVEY §7 "custom
  * Expression beats UDF"). */
case class CollationNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.query.Collation.normalize(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.query.Collation.normalize($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): CollationNormalizeExpr =
    copy(child = newChild)

  override def prettyName: String = "dlx_normalize"
}

/** Numeric-aware collation SORT key (strength-1 + `numericOrdering:
  * true`, the reference's default collation — dlx/config.py:340): byte
  * order of the key equals the collation's sort order, so a sorted
  * `from_query` can ride a plain Spark Sort on this expression.
  * Codegen twin of [[graft.query.Collation.sortKey]]. */
case class CollationSortKeyExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.query.Collation.sortKey(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.query.Collation.sortKey($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): CollationSortKeyExpr =
    copy(child = newChild)

  override def prettyName: String = "dlx_sort_key"
}
