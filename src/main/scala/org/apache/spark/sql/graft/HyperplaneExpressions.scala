/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native multi-table random-hyperplane bucketing.
  *
  * The HOF formulation (zip_with + aggregate per plane) interprets a
  * lambda per (dim × plane × table) — ~1.5k interpreted calls per
  * 64-dim vector at 4 tables × 6 planes. This expression computes every
  * table's bucket in ONE pass: an inner dim loop accumulating all
  * nTables·nPlanes projections with splitmix64-derived weights (public
  * mixing constants, Vigna 2014), then packs sign bits. Deterministic,
  * no broadcast "matrix" — weights regenerate from (dim, plane) on any
  * executor.
  */
object VectorHashOps {
  /** splitmix64 finalizer → uniform 64-bit from (dim, globalPlane). */
  private def mix(dim: Long, plane: Long): Long = {
    var z = 0x9E3779B97F4A7C15L * (dim + 1) + 0xBF58476D1CE4E5B9L * (plane + 1)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Projection weight in [-1, 1). */
  def weight(dim: Int, plane: Int): Double =
    mix(dim.toLong, plane.toLong).toDouble / 9.223372036854776e18

  def buckets(vec: ArrayData, nPlanes: Int, nTables: Int, isFloat: Boolean): ArrayData = {
    val totalPlanes = nPlanes * nTables
    val proj = new Array[Double](totalPlanes)
    val n = vec.numElements()
    var d = 0
    while (d < n) {
      if (!vec.isNullAt(d)) {
        val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
        var p = 0
        while (p < totalPlanes) {
          proj(p) += x * weight(d, p)
          p += 1
        }
      }
      d += 1
    }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        bucket = (bucket << 1) | (if (proj(t * nPlanes + p) >= 0.0) 1L else 0L)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** `hyperplane_buckets(array<float|double>) → array<long>` (one bucket
  * id per table).
  */
case class HyperplaneBuckets(child: Expression, nPlanes: Int, nTables: Int)
  extends UnaryExpression {

  require(nPlanes > 0 && nPlanes <= 62 && nTables > 0, "1..62 planes, >=1 table")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets expects array<float|double>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    VectorHashOps.buckets(input.asInstanceOf[ArrayData], nPlanes, nTables, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.VectorHashOps.buckets($c, $nPlanes, $nTables, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneExpressions {
  def hyperplaneBuckets(vec: Column, nPlanes: Int, nTables: Int): Column =
    ExpressionUtils.column(
      HyperplaneBuckets(ExpressionUtils.expression(vec), nPlanes, nTables))
}
