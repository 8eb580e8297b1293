/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Native Bloom-filter membership probe for 64-bit hash columns.
  *
  * The scale primitive behind Bloom-prefiltered decontamination
  * ([[graft.operators.Dedup.bloomDecontaminate]]): the eval-set n-gram
  * index compresses to a FIXED byte budget (fpp-controlled) instead of a
  * broadcast hash relation that grows with the benchmark suite, and the
  * probe runs inside whole-stage codegen where the corpus scan already
  * is — rows that miss never reach an exchange. Spark's own runtime
  * row-level filtering uses the same sketch (`BloomFilterMightContain`),
  * but that expression is internal and tied to the runtime-filter
  * rewrite; this one is a plain predicate any operator can place.
  *
  * The serialized filter rides the expression as bytes and deserializes
  * ONCE per executor instance (codegen: lazily-initialized mutable
  * state; interpreted: transient lazy val) — never per row.
  */
case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression with Predicate {

  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain expects a bigint hash input, got ${child.dataType}")

  @transient private lazy val filter: BloomFilter = BloomFilter.readFrom(bloomBytes)

  override protected def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = classOf[BloomFilter].getName
    val bytesRef = ctx.addReferenceObj("graftBloomBytes", bloomBytes, "byte[]")
    val filterVar = ctx.addMutableState(bf, "graftBloomFilter")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($filterVar == null) {
         |  try { $filterVar = $bf.readFrom($bytesRef); }
         |  catch (java.io.IOException e) { throw new RuntimeException(e); }
         |}
         |${ev.value} = $filterVar.mightContainLong($c);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomExpressions {
  def mightContainLong(hash: Column, bloomBytes: Array[Byte]): Column =
    ExpressionUtils.column(
      BloomMightContainLong(ExpressionUtils.expression(hash), bloomBytes))
}
