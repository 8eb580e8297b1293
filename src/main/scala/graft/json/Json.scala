package graft.json

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Minimal immutable JSON AST + recursive-descent parser + serializer,
  * stdlib-only (the environment resolves no external JSON library —
  * SURVEY.md §7.1). Provides the operations the ping domain needs:
  * parse, path walk (`\`), array index, object fields, typed extract.
  *
  * Mirrors the semantic surface the reference gets from json4s
  * (reference: src/main/scala/com/mozilla/telemetry/pings/Ping.scala:59-124)
  * without being an implementation of it.
  */
sealed trait JsonValue {
  /** Object field walk; JsonUndefined when absent (like json4s JNothing). */
  def \(key: String): JsonValue = this match {
    case JsonObject(fields) => fields.getOrElse(key, JsonUndefined)
    case _                  => JsonUndefined
  }
  def apply(i: Int): JsonValue = this match {
    case JsonArray(items) if i >= 0 && i < items.length => items(i)
    case _                                              => JsonUndefined
  }
  def asString: Option[String] = this match {
    case JsonString(s) => Some(s)
    case _             => None
  }
  /** Lenient string coercion (numbers/booleans stringify; `42.0` keeps
    * its decimal point, matching the reference's double→string fields).
    */
  def coerceString: Option[String] = this match {
    case JsonString(s)       => Some(s)
    case JsonNumber(value)   => Some(value.bigDecimal.toPlainString)
    case JsonBool(b)         => Some(b.toString)
    case _                   => None
  }
  def asInt: Option[Int] = this match {
    case n: JsonNumber if n.isWhole => Some(n.value.toInt)
    case _                          => None
  }
  def asLong: Option[Long] = this match {
    case n: JsonNumber if n.isWhole => Some(n.value.toLong)
    case _                          => None
  }
  def asDouble: Option[Double] = this match {
    case n: JsonNumber => Some(n.value.toDouble)
    case _             => None
  }
  def asBool: Option[Boolean] = this match {
    case JsonBool(b) => Some(b)
    case _           => None
  }
  def asArray: Option[Vector[JsonValue]] = this match {
    case JsonArray(items) => Some(items)
    case _                => None
  }
  def asObject: Option[ListMap[String, JsonValue]] = this match {
    case JsonObject(fields) => Some(fields)
    case _                  => None
  }
  /** Object of scalars → Map[String,String] with lenient coercion. */
  def asStringMap: Option[Map[String, String]] = this match {
    case JsonObject(fields) =>
      Some(fields.collect { case (k, v) if v.coerceString.isDefined => k -> v.coerceString.get })
    case _ => None
  }
  /** Object with whole-number values → Map[String,Int]; None on any
    * non-int value (matches the strict extract used for histogram maps).
    */
  def asIntMap: Option[Map[String, Int]] = this match {
    case JsonObject(fields) =>
      val pairs = fields.map { case (k, v) => k -> v.asInt }
      if (pairs.values.forall(_.isDefined)) Some(pairs.map { case (k, v) => k -> v.get })
      else None
    case _ => None
  }
  def isDefined: Boolean = this != JsonUndefined && this != JsonNull

  def render: String = Json.render(this)
}

case object JsonUndefined extends JsonValue
case object JsonNull extends JsonValue
final case class JsonBool(b: Boolean) extends JsonValue
final case class JsonString(s: String) extends JsonValue
final case class JsonNumber(value: BigDecimal) extends JsonValue {
  def isWhole: Boolean = value.isWhole
}
final case class JsonArray(items: Vector[JsonValue]) extends JsonValue
final case class JsonObject(fields: ListMap[String, JsonValue]) extends JsonValue

object JsonObject {
  def of(pairs: (String, JsonValue)*): JsonObject = JsonObject(ListMap(pairs: _*))
}

object Json {
  def num(l: Long): JsonNumber = JsonNumber(BigDecimal(l))
  def num(d: Double): JsonNumber = JsonNumber(BigDecimal(d))
  def str(s: String): JsonString = JsonString(s)
  def arr(items: JsonValue*): JsonArray = JsonArray(items.toVector)

  /** Deepest array/object nesting [[parse]] accepts (Jackson's default
    * limit). The parser recurses once per level, so without a bound a
    * few thousand `[` in one ping overflow the task's stack, and a
    * StackOverflowError is fatal: no lenient catch may swallow it.
    */
  val MaxDepth = 1000

  /** Parse or throw IllegalArgumentException (caller decides leniency —
    * the reference drops unparseable pings in its flatMap try/catch).
    * Nesting deeper than [[MaxDepth]] is malformed input like any other.
    */
  def parse(text: String): JsonValue = {
    val p = new Parser(text)
    val v = p.parseValue()
    p.skipWs()
    if (!p.atEnd) throw new IllegalArgumentException(s"trailing content at ${p.pos}")
    v
  }

  def parseOption(text: String): Option[JsonValue] =
    try Some(parse(text)) catch { case _: Exception => None }

  private final class Parser(s: String) {
    var pos = 0
    private var depth = 0
    def atEnd: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!atEnd && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t' ||
             s.charAt(pos) == '\n' || s.charAt(pos) == '\r')) pos += 1
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg at $pos")
    private def expect(c: Char): Unit = {
      if (atEnd || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }
    /** Counts one level of nesting in; the caller counts it out. */
    private def enter(): Unit = {
      depth += 1
      if (depth > MaxDepth) fail(s"nesting deeper than $MaxDepth")
    }

    def parseValue(): JsonValue = {
      skipWs()
      if (atEnd) fail("unexpected end")
      s.charAt(pos) match {
        case '{' => enter(); val o = parseObject(); depth -= 1; o
        case '[' => enter(); val a = parseArray(); depth -= 1; a
        case '"' => JsonString(parseString())
        case 't' => parseLiteral("true", JsonBool(true))
        case 'f' => parseLiteral("false", JsonBool(false))
        case 'n' => parseLiteral("null", JsonNull)
        case c if c == '-' || (c >= '0' && c <= '9') => parseNumber()
        case c => fail(s"unexpected char '$c'")
      }
    }

    private def parseLiteral(lit: String, v: JsonValue): JsonValue = {
      if (!s.regionMatches(pos, lit, 0, lit.length)) fail(s"expected $lit")
      pos += lit.length
      v
    }

    private def parseObject(): JsonObject = {
      expect('{'); skipWs()
      val buf = mutable.LinkedHashMap.empty[String, JsonValue]
      if (!atEnd && s.charAt(pos) == '}') { pos += 1; return JsonObject(ListMap(buf.toSeq: _*)) }
      while (true) {
        skipWs()
        val k = parseString()
        skipWs(); expect(':')
        buf.put(k, parseValue())
        skipWs()
        if (atEnd) fail("unterminated object")
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; return JsonObject(ListMap(buf.toSeq: _*))
          case c   => fail(s"expected ',' or '}' got '$c'")
        }
      }
      JsonObject(ListMap(buf.toSeq: _*)) // unreachable
    }

    private def parseArray(): JsonArray = {
      expect('['); skipWs()
      val buf = Vector.newBuilder[JsonValue]
      if (!atEnd && s.charAt(pos) == ']') { pos += 1; return JsonArray(buf.result()) }
      while (true) {
        buf += parseValue()
        skipWs()
        if (atEnd) fail("unterminated array")
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; return JsonArray(buf.result())
          case c   => fail(s"expected ',' or ']' got '$c'")
        }
      }
      JsonArray(buf.result()) // unreachable
    }

    private def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (true) {
        if (atEnd) fail("unterminated string")
        s.charAt(pos) match {
          case '"' => pos += 1; return sb.toString
          case '\\' =>
            pos += 1
            if (atEnd) fail("bad escape")
            s.charAt(pos) match {
              case '"'  => sb += '"';  pos += 1
              case '\\' => sb += '\\'; pos += 1
              case '/'  => sb += '/';  pos += 1
              case 'b'  => sb += '\b'; pos += 1
              case 'f'  => sb += '\f'; pos += 1
              case 'n'  => sb += '\n'; pos += 1
              case 'r'  => sb += '\r'; pos += 1
              case 't'  => sb += '\t'; pos += 1
              case 'u'  =>
                if (pos + 4 >= s.length) fail("bad unicode escape")
                sb += Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar
                pos += 5
              case c => fail(s"bad escape '\\$c'")
            }
          case c => sb += c; pos += 1
        }
      }
      sb.toString // unreachable
    }

    /** Consumes a digit run, returning how many digits it saw. */
    private def digits(): Int = {
      val from = pos
      while (!atEnd && s.charAt(pos).isDigit) pos += 1
      pos - from
    }

    /** JSON-grammar number: a bare '-', a trailing '.', or an exponent
      * with no digits are all rejected here (Java's BigDecimal would
      * quietly accept "1." / "1e" and throw NumberFormatException — not
      * our documented IllegalArgumentException — on "-").
      */
    private def parseNumber(): JsonNumber = {
      val start = pos
      if (!atEnd && s.charAt(pos) == '-') pos += 1
      if (digits() == 0) fail("bad number: integer digits required")
      if (!atEnd && s.charAt(pos) == '.') {
        pos += 1
        if (digits() == 0) fail("bad number: digits required after '.'")
      }
      if (!atEnd && (s.charAt(pos) == 'e' || s.charAt(pos) == 'E')) {
        pos += 1
        if (!atEnd && (s.charAt(pos) == '+' || s.charAt(pos) == '-')) pos += 1
        if (digits() == 0) fail("bad number: exponent digits required")
      }
      JsonNumber(BigDecimal(s.substring(start, pos)))
    }
  }

  def render(v: JsonValue): String = {
    val sb = new StringBuilder
    renderTo(v, sb)
    sb.toString
  }

  private def renderTo(v: JsonValue, sb: StringBuilder): Unit = v match {
    case JsonUndefined | JsonNull => sb ++= "null"
    case JsonBool(b)              => sb ++= b.toString
    // toPlainString keeps the source's scale ("42.0" stays "42.0") and
    // never emits scientific notation
    case JsonNumber(value) => sb ++= value.bigDecimal.toPlainString
    case JsonString(s) => renderString(s, sb)
    case JsonArray(items) =>
      sb += '['
      var first = true
      items.foreach { it =>
        if (!first) sb += ','
        first = false
        renderTo(it, sb)
      }
      sb += ']'
    case JsonObject(fields) =>
      sb += '{'
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb += ','
        first = false
        renderString(k, sb)
        sb += ':'
        renderTo(fv, sb)
      }
      sb += '}'
  }

  private def renderString(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case '\b' => sb ++= "\\b"
      case '\f' => sb ++= "\\f"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
