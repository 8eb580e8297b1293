/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native codegen'd dot product over `array<float|double>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * interprets a lambda per element and allocates an intermediate array
  * per row pair; this expression compiles to a tight primitive loop
  * inside whole-stage codegen — the hot path of every ANN/near-dup
  * pairwise score (SURVEY.md §7.4's "optional custom Expression for
  * perf" slot).
  */
case class ArrayDotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // always nullable (length-mismatch/null-element ⇒ null) so codegen's
  // ev.isNull is a real variable even over non-nullable inputs
  override def nullable: Boolean = true
  override def prettyName: String = "array_dot"

  private def elementType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elementType(left), elementType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"array_dot expects array<float|double> inputs, got (${left.dataType}, ${right.dataType})")
    }

  private def get(a: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case _         => a.getDouble(i)
  }

  /** NULL on length mismatch or null elements — the same propagation the
    * HOF formulation (zip_with + aggregate) has, so corrupt or truncated
    * embeddings surface as null scores instead of silent partial sums.
    */
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (lt, rt) = (elementType(left).get, elementType(right).get)
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      sum += get(a, lt, i) * get(b, rt, i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(et: DataType, v: String, i: String): String = et match {
      case FloatType => s"(double) $v.getFloat($i)"
      case _         => s"$v.getDouble($i)"
    }
    val (lt, rt) = (elementType(left).get, elementType(right).get)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += (${getter(lt, a, i)}) * (${getter(rt, b, i)});
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $sum; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd membership test over an ASCENDING-SORTED
  * `array<long>` column — binary search, O(log n) probes instead of
  * `array_contains`'s linear scan.
  *
  * Installed by [[SortedContainsRewrite]] when the array is provably
  * sorted (produced by [[ShingleHashes]]); the decontamination shape —
  * `array_contains(shingle_hashes(text, n), probe_hash)` per (doc,
  * probe) row — runs this once per joined pair. Sortedness is a
  * PRECONDITION, not checked: on unsorted input the search can miss
  * present elements; keep the generic `array_contains` for arbitrary
  * arrays.
  *
  * Null semantics match `array_contains` on null-free arrays (the only
  * arrays the rewrite installs it over): null inputs poison to null via
  * the nullSafe wrappers; a null ELEMENT (legal in the array type,
  * never produced by the shingle pipeline) poisons to null rather than
  * comparing garbage — `array_contains` would return null for a missing
  * value then too.
  */
case class SortedArrayContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_array_contains"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"sorted_array_contains expects (array<long>, long), got (${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val x = r.asInstanceOf[Long]
    var lo = 0
    var hi = a.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (a.isNullAt(mid)) return null
      val v = a.getLong(mid)
      if (v == x) return true
      else if (v < x) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, x) => {
      val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid"); val v = ctx.freshName("v")
      s"""
         |int $lo = 0;
         |int $hi = $a.numElements() - 1;
         |${ev.value} = false;
         |while ($lo <= $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($a.isNullAt($mid)) { ${ev.isNull} = true; break; }
         |  long $v = $a.getLong($mid);
         |  if ($v == $x) { ${ev.value} = true; break; }
         |  else if ($v < $x) { $lo = $mid + 1; }
         |  else { $hi = $mid - 1; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd |A ∩ B| over two ASCENDING-SORTED distinct
  * `array<long>` columns — a linear two-pointer merge, no hash set and
  * no intermediate intersection array.
  *
  * `size(array_intersect(a, b))` materializes the intersection (an
  * `ArrayData` allocation plus an internal hash structure) per row just
  * to take its length; on the near-dup verify paths this runs once per
  * CANDIDATE PAIR, the hottest loop of the whole dedup family. The
  * shingle-hash arrays feeding it ([[ShingleExpressions.shingleHashes]],
  * minhash/band pipelines) are produced ascending-distinct, so the merge
  * is exact. Sortedness is a PRECONDITION, not checked — on unsorted
  * input the count is an undercount; keep the generic `array_intersect`
  * for arbitrary arrays.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  // any null element (never produced by the shingle pipeline, but legal
  // in the array type) poisons the count to null rather than silently
  // comparing garbage — including elements past the point where one
  // pointer exhausts, which the merge loop alone would never visit
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left) && isLongArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<bigint> inputs, got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (n, m) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    // tail scan: the merge stops when one side exhausts, but the
    // null-poison contract covers EVERY element, visited or not
    while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    while (j < m) { if (b.isNullAt(j)) return null; j += 1 }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n && $j < $m) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x < $y) { $i++; }
         |  else if ($x > $y) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |// tail scan: null-poison covers elements past the merge too
         |while (!${ev.isNull} && $i < $n) { if ($a.isNullAt($i)) { ${ev.isNull} = true; } $i++; }
         |while (!${ev.isNull} && $j < $m) { if ($b.isNullAt($j)) { ${ev.isNull} = true; } $j++; }
         |if (!${ev.isNull}) { ${ev.value} = $c; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd argmax of dot(vec, row) over a centroid MATRIX
  * (`array<array<double>>`, normally a literal) — the k-means / IVF
  * assignment step as ONE expression.
  *
  * The composed form (`array_max` over k `struct(dot, -cell)` entries)
  * materializes k struct expressions in the plan: plan size, Janino
  * compile time, and codegen method length all grow with k, and k itself
  * grows as √n under the cells-≈-√n rule — at 20k vectors (141 cells ×
  * 64 dims ≈ 9k literal doubles per pass) plan compilation dominated the
  * whole index build. Here the matrix rides as a single literal and the
  * argmax is a tight k×dim loop.
  *
  * Ties take the LOWEST cell id (strict `>` on a left-to-right scan —
  * same contract as the composed form). Null vector elements, a row of
  * the wrong length, or an empty matrix poison the result to null
  * (matching [[ArrayDotProduct]]'s lenient-corpus contract).
  */
case class CellArgmax(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "cell_argmax"

  private def vecElementType: Option[DataType] = left.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }

  private def matrixOk: Boolean = right.dataType match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecElementType.isDefined && matrixOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cell_argmax expects (array<float|double>, array<array<double>>), " +
        s"got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val m = r.asInstanceOf[ArrayData]
    val isFloat = vecElementType.get == FloatType
    val n = v.numElements()
    val k = m.numElements()
    if (k == 0) return null
    var best = Double.NegativeInfinity
    var bestCell = -1
    var c = 0
    while (c < k) {
      if (m.isNullAt(c)) return null
      val row = m.getArray(c)
      if (row.numElements() != n) return null
      var sum = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i) || row.isNullAt(i)) return null
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        sum += x * row.getDouble(i)
        i += 1
      }
      if (sum > best) { best = sum; bestCell = c }
      c += 1
    }
    // All-NaN dot products leave bestCell at -1 (NaN > -Inf is false);
    // -1 is not a valid cell id, so poison to null rather than emit it.
    if (bestCell == -1) null else bestCell
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getX = vecElementType.get match {
      case FloatType => (v: String, i: String) => s"(double) $v.getFloat($i)"
      case _         => (v: String, i: String) => s"$v.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val n = ctx.freshName("n"); val k = ctx.freshName("k")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val row = ctx.freshName("row"); val sum = ctx.freshName("sum")
      val best = ctx.freshName("best"); val bestCell = ctx.freshName("bestCell")
      s"""
         |int $n = $v.numElements();
         |int $k = $m.numElements();
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestCell = -1;
         |if ($k == 0) { ${ev.isNull} = true; }
         |for (int $c = 0; !${ev.isNull} && $c < $k; $c++) {
         |  if ($m.isNullAt($c)) { ${ev.isNull} = true; break; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $m.getArray($c);
         |  if ($row.numElements() != $n) { ${ev.isNull} = true; break; }
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($v.isNullAt($i) || $row.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += (${getX(v, i)}) * $row.getDouble($i);
         |  }
         |  if (!${ev.isNull} && $sum > $best) { $best = $sum; $bestCell = $c; }
         |}
         |if (!${ev.isNull}) {
         |  if ($bestCell == -1) { ${ev.isNull} = true; } else { ${ev.value} = $bestCell; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[CellArgmax]] with the centroid matrix supplied as a Spark
  * BROADCAST variable instead of a plan literal — the routing form past
  * the literal byte budget ([[graft.operators.Similarity
  * .centroidLiteralBytes]]): a literal matrix serializes into every
  * stage's task binary and is deserialized per TASK (measured ~10 MiB
  * of task binary at 447 cells × dim 64), while the broadcast stub
  * serializes in bytes and the matrix ships once per EXECUTOR over
  * torrent. Scoring semantics are BIT-IDENTICAL to [[CellArgmax]]
  * (same strict-greater argmax, first-wins ties, null on empty matrix /
  * length mismatch / null element / all-NaN dots) — spec'd equal in
  * BroadcastRoutingSpec.
  */
case class CellArgmaxBroadcast(child: Expression,
    centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "cell_argmax_bc"

  private def vecElementType: Option[DataType] = child.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecElementType.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cell_argmax_bc expects array<float|double>, got ${child.dataType}")

  override protected def nullSafeEval(l: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val m = centroids.value
    val isFloat = vecElementType.get == FloatType
    val n = v.numElements()
    val k = m.length
    if (k == 0) return null
    var best = Double.NegativeInfinity
    var bestCell = -1
    var c = 0
    while (c < k) {
      val row = m(c)
      if (row == null || row.length != n) return null
      var sum = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) return null
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        sum += x * row(i)
        i += 1
      }
      if (sum > best) { best = sum; bestCell = c }
      c += 1
    }
    if (bestCell == -1) null else bestCell
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getX = vecElementType.get match {
      case FloatType => (v: String, i: String) => s"(double) $v.getFloat($i)"
      case _         => (v: String, i: String) => s"$v.getDouble($i)"
    }
    val bcRef = ctx.addReferenceObj("cellCentroidsBc", centroids,
      "org.apache.spark.broadcast.Broadcast")
    // resolve the broadcast VALUE once per codegen instance, not per row
    val mat = ctx.addMutableState("double[][]", "cellCentroidsMat")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val k = ctx.freshName("k")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val row = ctx.freshName("row"); val sum = ctx.freshName("sum")
      val best = ctx.freshName("best"); val bestCell = ctx.freshName("bestCell")
      s"""
         |if ($mat == null) { $mat = (double[][]) $bcRef.value(); }
         |int $n = $v.numElements();
         |int $k = $mat.length;
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestCell = -1;
         |if ($k == 0) { ${ev.isNull} = true; }
         |for (int $c = 0; !${ev.isNull} && $c < $k; $c++) {
         |  double[] $row = $mat[$c];
         |  if ($row == null || $row.length != $n) { ${ev.isNull} = true; break; }
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += (${getX(v, i)}) * $row[$i];
         |  }
         |  if (!${ev.isNull} && $sum > $best) { $best = $sum; $bestCell = $c; }
         |}
         |if (!${ev.isNull}) {
         |  if ($bestCell == -1) { ${ev.isNull} = true; } else { ${ev.value} = $bestCell; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native codegen'd TOP-2 argmax of dot(vec, row) over a centroid
  * matrix — [[CellArgmax]]'s sibling for MULTI-ASSIGNMENT: returns the
  * best and second-best cell ids packed as (best << 32) | second.
  * Multi-assigning each point to its two nearest cells is the recall
  * repair for boundary-split near-duplicate pairs in cluster-local
  * dedup (measured: 11–13% of planted cosine-0.995 pairs at 200k
  * vectors land across a cell boundary under single assignment —
  * SCALING.md round 11); two points within ε of each other AND of a
  * cell boundary almost surely share at least one of their two cells.
  *
  * Tie/ordering contract matches [[CellArgmax]] exactly: best is the
  * lowest cell id among maxima (strict `>` scan), second is the lowest
  * id among the remaining maxima; with k == 1 second == best (callers
  * dedupe). Null/malformed inputs poison to null.
  */
case class CellTop2(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cell_top2"

  private def vecElementType: Option[DataType] = left.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => Some(et)
    case _ => None
  }

  private def matrixOk: Boolean = right.dataType match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecElementType.isDefined && matrixOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cell_top2 expects (array<float|double>, array<array<double>>), " +
        s"got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val m = r.asInstanceOf[ArrayData]
    val isFloat = vecElementType.get == FloatType
    val n = v.numElements()
    val k = m.numElements()
    if (k == 0) return null
    var best = Double.NegativeInfinity
    var bestCell = -1
    var second = Double.NegativeInfinity
    var secondCell = -1
    var c = 0
    while (c < k) {
      if (m.isNullAt(c)) return null
      val row = m.getArray(c)
      if (row.numElements() != n) return null
      var sum = 0.0
      var i = 0
      while (i < n) {
        if (v.isNullAt(i) || row.isNullAt(i)) return null
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        sum += x * row.getDouble(i)
        i += 1
      }
      if (sum > best) {
        second = best; secondCell = bestCell
        best = sum; bestCell = c
      } else if (sum > second) { second = sum; secondCell = c }
      c += 1
    }
    if (bestCell == -1) null
    else {
      val s = if (secondCell == -1) bestCell else secondCell
      (bestCell.toLong << 32) | (s.toLong & 0xFFFFFFFFL)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getX = vecElementType.get match {
      case FloatType => (v: String, i: String) => s"(double) $v.getFloat($i)"
      case _         => (v: String, i: String) => s"$v.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val n = ctx.freshName("n"); val k = ctx.freshName("k")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val row = ctx.freshName("row"); val sum = ctx.freshName("sum")
      val best = ctx.freshName("best"); val bestCell = ctx.freshName("bestCell")
      val second = ctx.freshName("second"); val secondCell = ctx.freshName("secondCell")
      s"""
         |int $n = $v.numElements();
         |int $k = $m.numElements();
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestCell = -1;
         |double $second = Double.NEGATIVE_INFINITY;
         |int $secondCell = -1;
         |if ($k == 0) { ${ev.isNull} = true; }
         |for (int $c = 0; !${ev.isNull} && $c < $k; $c++) {
         |  if ($m.isNullAt($c)) { ${ev.isNull} = true; break; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $m.getArray($c);
         |  if ($row.numElements() != $n) { ${ev.isNull} = true; break; }
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($v.isNullAt($i) || $row.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += (${getX(v, i)}) * $row.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    if ($sum > $best) {
         |      $second = $best; $secondCell = $bestCell;
         |      $best = $sum; $bestCell = $c;
         |    } else if ($sum > $second) { $second = $sum; $secondCell = $c; }
         |  }
         |}
         |if (!${ev.isNull}) {
         |  if ($bestCell == -1) { ${ev.isNull} = true; }
         |  else {
         |    int ${c}s = $secondCell == -1 ? $bestCell : $secondCell;
         |    ${ev.value} = (((long) $bestCell) << 32) | (((long) ${c}s) & 0xFFFFFFFFL);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  def arrayDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      ArrayDotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedIntersectCount(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def cellArgmax(v: Column, centroids: Column): Column =
    ExpressionUtils.column(
      CellArgmax(ExpressionUtils.expression(v), ExpressionUtils.expression(centroids)))

  def cellArgmaxBroadcast(v: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): Column =
    ExpressionUtils.column(CellArgmaxBroadcast(ExpressionUtils.expression(v), bc))

  def cellTop2(v: Column, centroids: Column): Column =
    ExpressionUtils.column(
      CellTop2(ExpressionUtils.expression(v), ExpressionUtils.expression(centroids)))

  /** Unpack a [[cellTop2]] result into its (≤2) distinct cell ids, ready
    * for `explode`. The bit layout (best in the high 32 bits, runner-up
    * in the low 32, second == best when k == 1) lives HERE, next to the
    * packer — callers must not restate the shift/mask arithmetic.
    */
  def top2Cells(packed: Column): Column = {
    import org.apache.spark.sql.functions._
    array_distinct(array(
      shiftrightunsigned(packed, 32).cast("int"),
      packed.bitwiseAND(lit(0xFFFFFFFFL)).cast("int")))
  }
}
