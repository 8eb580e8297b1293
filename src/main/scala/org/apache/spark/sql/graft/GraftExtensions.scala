/* Lives under org.apache.spark.sql to reach private[sql] bridges
 * (ExpressionUtils, sessionState) — the same placement trick the
 * reference uses for its metrics source (reference:
 * src/main/scala/org/apache/spark/metrics/source/custom/AccumulatorMetricsSource.scala:4-6).
 * Every file in this package sits here for that reason.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Catalyst extension point wiring the engine's native expressions into
  * SQL by name. Activate per cluster with
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)` on a builder) — after
  * which `SELECT fnv64(text), simhash64(hashes), array_dot(a, b)`
  * parse like built-ins, so pure-SQL
  * clients (thriftserver, notebooks) reach the same operators as the
  * Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def one(name: String)(build: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, name),
      { exprs =>
        require(exprs.length == 1, s"$name expects exactly 1 argument")
        build(exprs.head)
      })

  private def two(name: String)(build: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, name),
      { exprs =>
        require(exprs.length == 2, s"$name expects exactly 2 arguments")
        build(exprs.head, exprs(1))
      })

  /** `hyperplane_buckets(vec, nPlanes, nTables)` — the plane/table counts
    * must be integer literals (they shape the output array).
    */
  private val hyperplaneBuilder
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("hyperplane_buckets"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "hyperplane_buckets"),
      { exprs =>
        require(exprs.length == 3, "hyperplane_buckets expects (vec, nPlanes, nTables)")
        def intLit(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hyperplane_buckets: $name must be an integer literal, got $other")
        }
        HyperplaneBuckets(exprs.head,
          intLit(exprs(1), "nPlanes"), intLit(exprs(2), "nTables"))
      })

  /** `shingle_hashes(text, n)` — the shingle width must be an integer
    * literal (it shapes the generated code).
    */
  private val shingleBuilder
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "shingle_hashes"),
      { exprs =>
        require(exprs.length == 2, "shingle_hashes expects (text, n)")
        exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _) =>
            ShingleHashes(exprs.head, n)
          case other => throw new IllegalArgumentException(
            s"shingle_hashes: n must be an integer literal, got $other")
        }
      })

  /** `minhash_signature(shingle_hashes, k)` — k must be an integer
    * literal (it sizes the signature array).
    */
  private val minhashBuilder
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "minhash_signature"),
      { exprs =>
        require(exprs.length == 2, "minhash_signature expects (hashes, k)")
        exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _) =>
            MinHashSignature(exprs.head, k)
          case other => throw new IllegalArgumentException(
            s"minhash_signature: k must be an integer literal, got $other")
        }
      })

  /** `vector_avg(vec, dim)` — dim must be an integer literal (it sizes
    * the aggregation buffer). Registers as an aggregate function.
    */
  private val vectorAvgBuilder
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("vector_avg"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "vector_avg"),
      { exprs =>
        require(exprs.length == 2, "vector_avg expects (vec, dim)")
        exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(d: Int, _) =>
            VectorAvg(exprs.head, d).toAggregateExpression()
          case other => throw new IllegalArgumentException(
            s"vector_avg: dim must be an integer literal, got $other")
        }
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(one("fnv64")(Fnv64))
    ext.injectFunction(one("simhash64")(SimHash64))
    ext.injectFunction(one("token_count")(TokenCount))
    ext.injectFunction(one("normalize_ws_punct")(NormalizeWsPunct))
    ext.injectFunction(two("array_dot")(ArrayDotProduct))
    ext.injectFunction(two("cell_argmax")(CellArgmax))
    ext.injectFunction(two("sorted_intersect_count")(SortedIntersectCount))
    ext.injectFunction(hyperplaneBuilder)
    ext.injectFunction(shingleBuilder)
    ext.injectFunction(minhashBuilder)
    ext.injectFunction(vectorAvgBuilder)
    // Rewrites over provably-sorted-distinct arrays (see Rules.scala):
    // size(array_intersect(sh, sh)) → native sorted-merge count,
    // array_contains(sh, x) → binary search,
    // array_distinct(sh) → sh (no-op erased; ordered before the others
    // composes: stripping the wrapper exposes the ShingleHashes child)
    ext.injectOptimizerRule(_ => DistinctNoopRewrite)
    ext.injectOptimizerRule(_ => IntersectCountRewrite)
    ext.injectOptimizerRule(_ => SortedContainsRewrite)
  }
}
