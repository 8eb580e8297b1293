package graft.json

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("parses scalars, arrays, objects") {
    val v = Json.parse("""{"a": 1, "b": [1.5, "x", true, null], "c": {"d": -2e2}}""")
    assert((v \ "a").asInt.contains(1))
    assert((v \ "b")(0).asDouble.contains(1.5))
    assert((v \ "b")(1).asString.contains("x"))
    assert((v \ "b")(2).asBool.contains(true))
    assert((v \ "b")(3) == JsonNull)
    assert((v \ "c" \ "d").asDouble.contains(-200.0))
    assert((v \ "missing" \ "deep") == JsonUndefined)
  }

  test("string escapes round-trip") {
    val s = "line\nquote\"backslash\\tab\tunicodeé"
    val rendered = JsonObject.of(("k", Json.str(s))).render
    assert((Json.parse(rendered) \ "k").asString.contains(s))
  }

  test("render round-trips nested structures") {
    val text = """{"fields":{"docType":"crash","n":42},"timestamp":1460036116829920000,"payload":null}"""
    assert(Json.parse(Json.parse(text).render) == Json.parse(text))
  }

  test("whole vs fractional numbers") {
    assert(Json.parse("42").asInt.contains(42))
    assert(Json.parse("42.5").asInt.isEmpty)
    assert(Json.parse("42.5").asDouble.contains(42.5))
    assert(Json.parse("1460036116829920000").asLong.contains(1460036116829920000L))
  }

  test("malformed input throws") {
    assert(Json.parseOption("{bad").isEmpty)
    assert(Json.parseOption("""{"a": }""").isEmpty)
    assert(Json.parseOption("[1,]").isEmpty)
    assert(Json.parseOption("").isEmpty)
  }

  test("nesting past the depth limit is malformed input, not a stack overflow") {
    val deep = "[" * 5000 + "]" * 5000
    intercept[IllegalArgumentException](Json.parse(deep))
    assert(Json.parseOption(deep).isEmpty)
    assert(Json.parseOption("""{"a":""" * 5000 + "1" + "}" * 5000).isEmpty)
    // the limit itself still parses; one level more does not
    val atLimit = "[" * Json.MaxDepth + "]" * Json.MaxDepth
    assert(Json.parse(atLimit).asArray.isDefined)
    intercept[IllegalArgumentException](Json.parse("[" + atLimit + "]"))
    // depth counts nesting, not how many containers a document holds
    assert(Json.parse(Seq.fill(3 * Json.MaxDepth)("[[]]").mkString("[", ",", "]"))
      .asArray.map(_.length).contains(3 * Json.MaxDepth))
  }

  test("numbers follow the JSON grammar strictly") {
    // a digit is required after '-', '.', and the exponent marker
    assert(Json.parseOption("-").isEmpty)
    assert(Json.parseOption("1.").isEmpty)
    assert(Json.parseOption("1e").isEmpty)
    assert(Json.parseOption("1e+").isEmpty)
    assert(Json.parseOption("""{"a": -}""").isEmpty)
    // ...and the valid forms still parse
    assert(Json.parse("-0.5").asDouble.contains(-0.5))
    assert(Json.parse("1e2").asDouble.contains(100.0))
    assert(Json.parse("2.5E-1").asDouble.contains(0.25))
  }

  test("int map extraction is strict") {
    assert(Json.parse("""{"0": 1, "150": 2}""").asIntMap.contains(Map("0" -> 1, "150" -> 2)))
    assert(Json.parse("""{"0": 1.5}""").asIntMap.isEmpty)
  }
}
