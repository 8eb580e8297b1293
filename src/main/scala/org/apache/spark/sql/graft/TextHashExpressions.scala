/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Cross-engine-reproducible text hashing, natively codegen'd.
  *
  * Spark's built-in `xxhash64` has no DuckDB twin, which forces every
  * hash-derived operator (fingerprints, SimHash signatures) down to a
  * weaker rows-only correctness check. These expressions use FNV-1a over
  * Unicode codepoints — arithmetic simple enough to restate in ANSI-ish
  * SQL (`list_reduce` over codepoints with hugeint modular arithmetic),
  * so signature outputs become hash-comparable against an independent
  * engine. Each compiles to a static JVM call inside whole-stage codegen;
  * the SimHash vote loop runs 64 bit-counters in one pass over the token
  * hashes instead of 64 interpreted HOF aggregates (the round-1 shape).
  */
object TextHashOps {
  final val FnvOffset: Long = 0xcbf29ce484222325L // FNV-1a 64-bit offset basis
  final val FnvPrime: Long = 0x100000001b3L       // FNV-1a 64-bit prime

  /** FNV-1a over the string's Unicode codepoints (not UTF-8 bytes: a SQL
    * mirror reaches codepoints via `unicode(substr(...))`, not bytes).
    * Long multiplication wraps mod 2^64 exactly like the hugeint-mod
    * arithmetic on the oracle side.
    */
  def fnv64(u: UTF8String): Long = {
    val s = u.toString
    var h = FnvOffset
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h ^ cp) * FnvPrime
      i += Character.charCount(cp)
    }
    h
  }

  /** splitmix64 finalizer: full-avalanche mix of a 64-bit hash.
    * FNV-1a diffuses upward only — keys sharing a prefix and differing
    * in trailing characters land CLUSTERED in unsigned order (measured:
    * a KMV estimate over fnv64("tok0".."tok4999") read 174,749 for
    * 5,000 distinct — 35× off — because the 64th-smallest hash sat at
    * 1/2773 of the range instead of 64/5000). Order-statistic consumers
    * (KMV, sampling by hash) need this finalizer; equality/grouping
    * consumers (dedup, shingles) do not. Wrapping long arithmetic —
    * replayed in SQL via hugeint split multiplies. */
  def mix64(h: Long): Long = {
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit SimHash from pre-hashed tokens: per-bit majority vote, one
    * pass over the array. Ties (vote sum 0, incl. the empty array) leave
    * the bit clear. Null elements never occur (fnv64 is null-intolerant
    * upstream) but are skipped defensively.
    */
  def simhash64(hashes: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** `fnv64(string) → long`. */
case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fnv64 expects a string input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.fnv64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.TextHashOps.fnv64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash64(array<long>) → long`. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<bigint>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.TextHashOps.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `mix64(long) → long` — splitmix64 finalizer (see [[TextHashOps.mix64]]). */
case class Mix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "mix64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mix64 expects a bigint input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.mix64(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.TextHashOps.mix64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextHashExpressions {
  def fnv64(c: Column): Column =
    ExpressionUtils.column(Fnv64(ExpressionUtils.expression(c)))

  def simhash64(hashes: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(hashes)))

  def mix64(c: Column): Column =
    ExpressionUtils.column(Mix64(ExpressionUtils.expression(c)))
}
