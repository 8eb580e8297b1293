/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import java.util.Arrays

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word-n-gram shingle hashing.
  *
  * The Column formulation (trim → regex split → per-token hash → slice +
  * hash per shingle → array_distinct → array_sort) allocates a string
  * per token and interprets a lambda per shingle. This expression makes
  * ONE pass over the text: token FNV-1a hashes accumulate on the fly
  * (no substring is ever materialized), a ring buffer of the last n
  * token hashes feeds an order-sensitive splitmix64 chain per shingle,
  * and the result is sorted + deduplicated in place. Output: ascending
  * distinct 64-bit shingle hashes; fewer than n tokens ⇒ empty array.
  * Tokenization reproduces TextFunctions.tokens' split-FIELD semantics
  * exactly (ASCII-space-only trim, ASCII `\s+` separators, empty edge
  * fields kept), so the hash-set path, the string-shingle path, and the
  * oracle's regex always agree on shingle-set cardinality and equality.
  */
object ShingleOps {
  private def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Java-regex `\s` (ASCII): the separator class `TextFunctions.tokens`
    * splits on. Deliberately NOT `Character.isWhitespace`, which also
    * matches U+2000-U+200A, U+3000 etc. — the hash-set path must
    * tokenize identically to the string path and the oracle's regex.
    */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def shingleHashes(text: UTF8String, n: Int): GenericArrayData = {
    val s = text.toString
    // tokens() field semantics: ASCII-space-only trim; `\s+` runs
    // separate fields; a leading/trailing non-space whitespace run
    // yields an EMPTY edge field that counts as a token
    var start = 0
    var end = s.length
    while (start < end && s.charAt(start) == ' ') start += 1
    while (end > start && s.charAt(end - 1) == ' ') end -= 1
    val ring = new Array[Long](n)
    var tokenCount = 0
    var out = new Array[Long](16)
    var outLen = 0

    def emitToken(h: Long): Unit = {
      ring(tokenCount % n) = h
      tokenCount += 1
      if (tokenCount >= n) {
        // combine the last n token hashes, oldest first; the oldest is
        // pre-mixed so even the first XOR is position-sensitive
        // ("a b" must not hash like "b a")
        var c = splitmix64(ring((tokenCount - n) % n))
        var j = tokenCount - n + 1
        while (j < tokenCount) {
          c = splitmix64(c ^ ring(j % n))
          j += 1
        }
        if (outLen == out.length) out = Arrays.copyOf(out, out.length * 2)
        out(outLen) = c
        outLen += 1
      }
    }

    if (start < end) {
      var i = start
      var h = TextHashOps.FnvOffset
      var emittedTrailing = false
      while (i < end) {
        val c = s.charAt(i)
        if (isWs(c)) {
          emitToken(h) // field before this separator run
          h = TextHashOps.FnvOffset
          while (i < end && isWs(s.charAt(i))) i += 1
          if (i == end) { emitToken(TextHashOps.FnvOffset); emittedTrailing = true }
        } else {
          val cp = s.codePointAt(i)
          h = (h ^ cp) * TextHashOps.FnvPrime
          i += Character.charCount(cp)
        }
      }
      if (!emittedTrailing) emitToken(h)
    }
    if (outLen == 0) return new GenericArrayData(Array.emptyLongArray)
    val trimmed = Arrays.copyOf(out, outLen)
    Arrays.sort(trimmed)
    // in-place dedup of the sorted run
    var w = 1
    var r = 1
    while (r < outLen) {
      if (trimmed(r) != trimmed(w - 1)) { trimmed(w) = trimmed(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == outLen) trimmed else Arrays.copyOf(trimmed, w))
  }

  /** Positional window hashes: for each n-token window starting at
    * 0-based token position p, the FNV-1a-64 of the window's tokens
    * joined by a single space — EXACTLY the value `fnv64` returns for
    * `concat_ws(" ", slice(tokens, p+1, n))`, so oracles written
    * against the string path keep holding verbatim — computed in one
    * pass without materializing any token or window string (the
    * Column formulation allocates a window string per position and
    * re-runs the regex split per document). Output: (pos, hash)
    * structs in position order; fewer than n tokens ⇒ empty array.
    * Same split-FIELD tokenization as [[shingleHashes]].
    */
  def positionalWindowHashes(text: UTF8String, n: Int): GenericArrayData = {
    val s = text.toString
    var start = 0
    var end = s.length
    while (start < end && s.charAt(start) == ' ') start += 1
    while (end > start && s.charAt(end - 1) == ' ') end -= 1
    // field boundaries under tokens()'s split-FIELD semantics: fields
    // separated by `\s+` runs, empty edge fields kept
    var fFrom = new Array[Int](16)
    var fUntil = new Array[Int](16)
    var nf = 0
    def addField(a: Int, b: Int): Unit = {
      if (nf == fFrom.length) {
        fFrom = Arrays.copyOf(fFrom, nf * 2)
        fUntil = Arrays.copyOf(fUntil, nf * 2)
      }
      fFrom(nf) = a; fUntil(nf) = b; nf += 1
    }
    if (start < end) {
      var i = start
      var fieldStart = start
      var emittedTrailing = false
      while (i < end) {
        if (isWs(s.charAt(i))) {
          addField(fieldStart, i)
          while (i < end && isWs(s.charAt(i))) i += 1
          fieldStart = i
          if (i == end) { addField(end, end); emittedTrailing = true }
        } else {
          i += Character.charCount(s.codePointAt(i))
        }
      }
      if (!emittedTrailing) addField(fieldStart, end)
    }
    if (nf < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nf - n + 1)
    var k = 0
    while (k <= nf - n) {
      var h = TextHashOps.FnvOffset
      var j = k
      while (j < k + n) {
        if (j > k) h = (h ^ 32) * TextHashOps.FnvPrime // the joining ' '
        var ci = fFrom(j)
        val cu = fUntil(j)
        while (ci < cu) {
          val cp = s.codePointAt(ci)
          h = (h ^ cp) * TextHashOps.FnvPrime
          ci += Character.charCount(cp)
        }
        j += 1
      }
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](k.toLong, h))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** `shingle_hashes(string) → array<bigint>` (ascending, distinct). */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, "shingle size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects a string input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    ShingleOps.shingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.ShingleOps.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `positional_window_hashes(string) → array<struct<pos:bigint, hash:bigint>>`
  * (position order; hash = fnv64 of the space-joined window string). */
case class PositionalWindowHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, "window size must be positive")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("hash", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "positional_window_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"positional_window_hashes expects a string input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    ShingleOps.positionalWindowHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.ShingleOps.positionalWindowHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleExpressions {
  def shingleHashes(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text), n))

  def positionalWindowHashes(text: Column, n: Int): Column =
    ExpressionUtils.column(PositionalWindowHashes(ExpressionUtils.expression(text), n))
}
