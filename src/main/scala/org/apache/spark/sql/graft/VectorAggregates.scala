/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Element-wise mean of a fixed-dimension vector column — the centroid
  * aggregate (IVF cell builder, k-means update step) as ONE
  * `TypedImperativeAggregate` instead of `dim` separate
  * `avg(element_at(v, i))` aggregate expressions.
  *
  * The per-group state is a single `double[dim + 1]` (sums + count):
  * partials merge associatively across partitions, so a centroid build
  * over a billion vectors shuffles `8·(dim+1)` bytes per (group ×
  * partition) — the construction SURVEY §7.4 reserves for exactly this
  * aggregate shape (the reference's 22-dim `array(avg(updates(i)))`
  * pattern, FederatedLearningSearchOptimizer.scala:102, stops scaling in
  * expression count, not data volume, as dim grows).
  *
  * Semantics: rows with a null vector are ignored (like `avg`); a null
  * ELEMENT or a length mismatch poisons the group to null rather than
  * averaging garbage. Result is `array<double>` (exact float→double
  * widening), null for an all-null group. Like every floating-point
  * mean (including the `avg` construction this replaces), the result is
  * partial-order-dependent in the last ulps.
  */
case class VectorAvg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  require(dim > 0, "vector_avg: dim must be positive")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vector_avg"

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vector_avg expects array<float|double>, got $other")
  }

  // buffer layout: [sum_0 .. sum_{dim-1}, count]; count = -1 marks a
  // poisoned group (null element / length mismatch seen)
  override def createAggregationBuffer(): Array[Double] = new Array[Double](dim + 1)

  private def poisoned(buf: Array[Double]): Boolean = buf(dim) < 0

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    if (poisoned(buf)) return buf
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) { buf(dim) = -1; return buf }
    val isFloat = elemType == FloatType
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) { buf(dim) = -1; return buf }
      buf(i) += (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
      i += 1
    }
    buf(dim) += 1
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    if (poisoned(buf) || poisoned(other)) { buf(dim) = -1; return buf }
    var i = 0
    while (i <= dim) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = {
    if (poisoned(buf) || buf(dim) == 0) return null
    val n = buf(dim)
    val out = new Array[Any](dim)
    var i = 0
    while (i < dim) { out(i) = buf(i) / n; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * (dim + 1))
    var i = 0
    while (i <= dim) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Double](dim + 1)
    var i = 0
    while (i <= dim) { buf(i) = bb.getDouble(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorAvg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorAvg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorAvg =
    copy(child = newChild)
}

object VectorAggregates {
  /** Column form: `vectorAvg(col("embedding"), 64)`. */
  def vectorAvg(vec: Column, dim: Int): Column =
    ExpressionUtils.column(
      VectorAvg(ExpressionUtils.expression(vec), dim).toAggregateExpression())
}
