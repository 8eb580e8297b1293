/* org.apache.spark.sql placement: the rule pattern-matches engine
 * expressions and Catalyst internals — same placement rationale as
 * GraftExtensions.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ArrayContains, ArrayDistinct, ArrayIntersect, Coalesce, Expression, Literal, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Shared sortedness evidence for the rewrite rules below: an expression
  * whose output is ascending-sorted, deduplicated, and null-free BY
  * CONSTRUCTION. Only [[ShingleHashes]] carries that proof today; an
  * attribute fed from a shuffle or an arbitrary array expression is NOT
  * provably sorted and keeps the generic path (sortedness is a semantic
  * precondition of the specialized operators, not a checked one).
  */
private[graft] object SortedEvidence {
  def provablySortedDistinct(e: Expression): Boolean = e match {
    case _: ShingleHashes => true
    case _ => false
  }
}

/** Rewrites `size(array_intersect(a, b))` to the native
  * [[SortedIntersectCount]] sorted-merge when BOTH inputs are provably
  * ascending-distinct — i.e. produced by [[ShingleHashes]], whose output
  * is sorted, deduplicated, and null-free by construction.
  *
  * The naive formulation is what a SQL user writes for shingle-overlap
  * checks; it materializes the intersection array (allocation + hash
  * structure) per row just to take its length. The sorted-merge needs no
  * allocation and exits early — on near-dup verify paths this runs once
  * per candidate pair. The rewrite is conservative by design: an
  * attribute fed from a shuffle or an arbitrary array expression is NOT
  * provably sorted and keeps the generic path (sortedness is a semantic
  * precondition of the merge, not a checked one).
  *
  * Result compatibility: both sides return IntegerType; `array_intersect`
  * deduplicates its output, which equals the merge count on distinct
  * inputs; null arrays propagate null under the default (non-legacy)
  * `size` semantics. Lenient sessions (`ansi.enabled=false` with the
  * legacy `size(null) = -1` default) still get the rewrite, wrapped in
  * `coalesce(count, -1)` — a null count arises exactly when `size` would
  * have seen a null intersection array.
  */
object IntersectCountRewrite extends Rule[LogicalPlan] {

  import SortedEvidence.provablySortedDistinct

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(a, b), legacy)
          if provablySortedDistinct(a) && provablySortedDistinct(b) =>
        val cnt = SortedIntersectCount(a, b)
        if (legacy) Coalesce(Seq(cnt, Literal(-1))) else cnt
    }
}

/** Rewrites `array_contains(shingle_hashes(text, n), x)` to the native
  * binary-search [[SortedArrayContains]]: the probe drops from a linear
  * scan of every shingle hash to O(log n) — the decontamination shape
  * runs this per joined (doc, probe) row.
  *
  * Guarded on [[SortedEvidence]] (sorted, distinct, null-free output)
  * and on a LongType probe: the analyzer has already unified the value
  * type with the array element type by optimizer time, so any other
  * element/probe type keeps the generic path. Null semantics are
  * identical over null-free arrays (see [[SortedArrayContains]]).
  */
object SortedContainsRewrite extends Rule[LogicalPlan] {

  import SortedEvidence.provablySortedDistinct

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayContains(a, x)
          if provablySortedDistinct(a) && x.dataType == LongType =>
        SortedArrayContains(a, x)
    }
}

/** Removes `array_distinct` over a provably-distinct input — the
  * shingle-hash pipeline already emits deduplicated arrays, so the SQL
  * user's defensive `size(array_distinct(shingle_hashes(t, n)))`
  * (distinct-shingle counting) pays a per-row hash-set build for a
  * no-op. The rewrite erases the node entirely, which also composes
  * with [[IntersectCountRewrite]]: once the wrapper is gone, a
  * surrounding `size(array_intersect(..))` sees the bare
  * [[ShingleHashes]] children and specializes too.
  */
object DistinctNoopRewrite extends Rule[LogicalPlan] {

  import SortedEvidence.provablySortedDistinct

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayDistinct(a) if provablySortedDistinct(a) => a
    }
}
