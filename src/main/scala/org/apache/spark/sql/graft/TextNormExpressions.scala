/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text scanning expressions for the hot text-statistics
  * path. The regex formulations (`size(split(text, "\\s+"))`, two chained
  * `regexp_replace`) dominate profile time on corpus-scale scans; these
  * replace them with one linear pass, same observable semantics, inside
  * whole-stage codegen. Character classes are the ASCII sets both engines
  * agree on (`\s` ⇔ `[[:space:]]`, `\p{Punct}` ⇔ `[[:punct:]]`), so the
  * DuckDB oracles keep hash-matching.
  */
object TextNormOps {

  /** Java-regex `\s` (default, non-UNICODE_CHARACTER_CLASS) = POSIX
    * [[:space:]]: space, \t, \n, \x0B (vertical tab), \f, \r. All ASCII,
    * so UTF-8 continuation bytes (≥ 0x80) never match and the scan can
    * run over raw bytes.
    */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Java-regex `\p{Punct}` = POSIX [[:punct:]]: the 32 ASCII punctuation
    * characters !"#$%&'()*+,-./:;<=>?@[\]^_`{|}~ (0x21-0x2F, 0x3A-0x40,
    * 0x5B-0x60, 0x7B-0x7E).
    */
  @inline private def isPunct(b: Byte): Boolean =
    (b >= 0x21 && b <= 0x2F) || (b >= 0x3A && b <= 0x40) ||
      (b >= 0x5B && b <= 0x60) || (b >= 0x7B && b <= 0x7E)

  /** Exactly `size(split(trim(text), "\\s+"))` with the empty-string → 0
    * guard — i.e. split-FIELD count, not non-whitespace-run count. The
    * established (oracle-matched) semantics have two quirks this scan
    * reproduces: `trim` strips ASCII spaces only (a string reduced to
    * tabs/newlines is NOT empty), and split keeps empty edge fields (a
    * tab-leading or tab-trailing string gains an empty field). Field
    * count = (maximal `\s+` runs in the space-trimmed string) + 1.
    */
  def tokenCount(u: UTF8String): Int = {
    var start = 0
    var end = u.numBytes()
    while (start < end && u.getByte(start) == ' ') start += 1
    while (end > start && u.getByte(end - 1) == ' ') end -= 1
    if (start == end) return 0
    var runs = 0
    var inWs = false
    var i = start
    while (i < end) {
      val ws = isWs(u.getByte(i))
      if (ws && !inWs) runs += 1
      inWs = ws
      i += 1
    }
    runs + 1
  }

  /** Collapse every run of ASCII punctuation/whitespace to one space and
    * trim the ends — equivalent to
    * `trim(regexp_replace(text, "[\\p{Punct}\\s]+", " "))` in one pass.
    * Non-ASCII bytes copy through untouched (case-folding stays with the
    * engine's own `lower()` so Unicode semantics match the oracle's).
    */
  def normalizeWsPunct(u: UTF8String): UTF8String = {
    val n = u.numBytes()
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val b = u.getByte(i)
      if (isWs(b) || isPunct(b)) {
        pendingSpace = o > 0 // runs at the start trim away
      } else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = b
        o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }
}

/** `token_count(string) → int`. */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_count expects a string input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    TextNormOps.tokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.TextNormOps.tokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `normalize_ws_punct(string) → string`. */
case class NormalizeWsPunct(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_ws_punct"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_ws_punct expects a string input, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    TextNormOps.normalizeWsPunct(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.TextNormOps.normalizeWsPunct($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextNormExpressions {
  def tokenCount(c: Column): Column =
    ExpressionUtils.column(TokenCount(ExpressionUtils.expression(c)))

  def normalizeWsPunct(c: Column): Column =
    ExpressionUtils.column(NormalizeWsPunct(ExpressionUtils.expression(c)))
}
