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

/** Native MinHash signatures from pre-hashed shingles.
  *
  * The HOF formulation (`transform(seeds, s -> array_min(transform(hs,
  * h -> xxhash64(h, s))))`) interprets k·|shingles| lambdas and builds k
  * intermediate arrays per row. This expression runs shingles outer,
  * seeds inner, tracking k minima in a flat long array — zero
  * allocations beyond the output. Seeded hash h_i = splitmix64(h ⊕
  * mix(i)) (public mixing constants, Vigna 2014).
  */
object MinHashOps {
  private def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One long per seed: min over shingle hashes of the seeded rehash.
    * Returns null for an empty shingle set (no signature — callers drop
    * such docs from LSH banding).
    */
  def signature(hashes: ArrayData, numHashes: Int): GenericArrayData = {
    val n = hashes.numElements()
    if (n == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var s = 0
        while (s < numHashes) {
          val v = splitmix64(h ^ (s.toLong * 0xC2B2AE3D27D4EB4FL))
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** `minhash_signature(array<bigint>) → array<bigint>` (null if empty). */
case class MinHashSignature(child: Expression, numHashes: Int)
  extends UnaryExpression {

  require(numHashes > 0, "at least one hash")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty shingle set ⇒ null signature
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<bigint>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashOps.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $sig =
         |  org.apache.spark.sql.graft.MinHashOps.signature($c, $numHashes);
         |if ($sig == null) { ${ev.isNull} = true; } else { ${ev.value} = $sig; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashExpressions {
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    ExpressionUtils.column(
      MinHashSignature(ExpressionUtils.expression(shingleHashes), numHashes))
}
