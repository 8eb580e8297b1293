package graft.timeseries

import java.sql.Timestamp

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema/row assembly semantics (behavior per reference:
  * src/main/scala/com/mozilla/telemetry/timeseries/package.scala:15-79).
  */
class TimeseriesSpec extends AnyFunSuite {

  test("SchemaBuilder maps Scala types to nullable Spark fields in order") {
    val schema = new SchemaBuilder()
      .add[String]("app")
      .add[Int]("n")
      .add[Long]("total")
      .add[Float]("f")
      .add[Double]("score")
      .add[Boolean]("ok")
      .add[Timestamp]("ts")
      .add[Map[String, String]]("tags")
      .build
    assert(schema.fieldNames.toSeq ==
      Seq("app", "n", "total", "f", "score", "ok", "ts", "tags"))
    assert(schema("app").dataType == StringType)
    assert(schema("n").dataType == IntegerType)
    assert(schema("total").dataType == LongType)
    assert(schema("score").dataType == DoubleType)
    assert(schema("tags").dataType == MapType(StringType, StringType))
    assert(schema.fields.forall(_.nullable))
  }

  test("SchemaBuilder.merge concatenates and skips null parts") {
    val a = new SchemaBuilder().add[String]("x").build
    val b = new SchemaBuilder().add[Long]("y").build
    assert(SchemaBuilder.merge(a, null, b).fieldNames.toSeq == Seq("x", "y"))
  }

  test("RowBuilder fills by name; None and unset slots stay null") {
    val schema = new SchemaBuilder().add[String]("a").add[Int]("b").add[Long]("c").build
    val rb = new RowBuilder(schema)
    rb.update("a", Some("hello"))
    rb.update("b", None)
    rb.update("nope", Some(1)) // ignored: not in schema, lenient mode
    val row = rb.build
    assert(row.getString(0) == "hello")
    assert(row.isNullAt(1) && row.isNullAt(2))
    // a reused builder: None clears what an earlier row set
    rb.update("a", None)
    rb.update("c", Some(3L))
    val next = rb.build
    assert(next.isNullAt(0) && next.getLong(2) == 3L)
    assert(row.getString(0) == "hello", "built rows do not share the builder's slots")
  }

  test("RowBuilder strict mode throws on unknown field names") {
    val rb = new RowBuilder(new SchemaBuilder().add[String]("a").build,
      failOnMissingField = true)
    intercept[IllegalArgumentException] { rb.update("missing", Some("v")) }
  }
}
