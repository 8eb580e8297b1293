/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Identity expression that REPORTS non-deterministic — an optimizer
  * placement barrier (optimization guide §4.4, applied to JVM
  * expressions instead of Python UDFs).
  *
  * Catalyst pushes a deterministic Filter below any Project/Repartition
  * it can, substituting the filtered column's defining expression. For
  * a column built from several expensive regex evaluations that
  * substitution re-anchors the whole computation BELOW the
  * scan-parallelism floor's round-robin exchange — i.e. back onto the
  * single scan task the floor exists to escape (observed on q100: the
  * PII gate's three regexp_extract_all ran at scan width while only the
  * cheap replace projections were parallelized). Wrapping the gate
  * column in `optBarrier` pins its evaluation where it was written:
  * non-deterministic expressions may not be duplicated, reordered, or
  * pushed through exchanges.
  *
  * The wrapped value is in truth fully deterministic — results are
  * unchanged, retries/speculation are safe; only the optimizer's
  * placement freedom is withdrawn. Use sparingly (it also blocks
  * LEGITIMATE pushdown of other predicates past it): only on columns
  * whose computation must stay above a widening exchange.
  */
case class OptBarrier(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override lazy val deterministic: Boolean = false
  override protected def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BarrierExpressions {
  def optBarrier(c: Column): Column =
    ExpressionUtils.column(OptBarrier(ExpressionUtils.expression(c)))
}
