package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Runtime-composed output schemas and name-addressed row assembly — the
  * mechanism behind per-job schemas built as dimensions ⊕ metrics ⊕
  * histograms (behavior per reference:
  * src/main/scala/com/mozilla/telemetry/timeseries/package.scala:15-79,
  * composition at streaming/ErrorAggregatorBase.scala:223-226), but
  * re-based on a compile-time typeclass instead of runtime reflection:
  * `add[T]` resolves the Spark `DataType` through an implicit
  * [[timeseries.SparkFieldType]] instance, so an unsupported field type
  * is a compile error rather than a runtime throw, and no scala-reflect
  * mirror is touched on the executor path.
  */
package object timeseries {

  /** Evidence that Scala type `T` maps to a Spark SQL column type. */
  final class SparkFieldType[T](val dataType: DataType)

  object SparkFieldType {
    private def of[T](dt: DataType): SparkFieldType[T] = new SparkFieldType[T](dt)

    implicit val stringField: SparkFieldType[String]       = of(StringType)
    implicit val boolField: SparkFieldType[Boolean]        = of(BooleanType)
    implicit val intField: SparkFieldType[Int]             = of(IntegerType)
    implicit val longField: SparkFieldType[Long]           = of(LongType)
    implicit val floatField: SparkFieldType[Float]         = of(FloatType)
    implicit val doubleField: SparkFieldType[Double]       = of(DoubleType)
    implicit val timestampField: SparkFieldType[Timestamp] = of(TimestampType)
    implicit val dateField: SparkFieldType[Date]           = of(DateType)
    implicit val tagMapField: SparkFieldType[Map[String, String]] =
      of(MapType(StringType, StringType, valueContainsNull = true))
  }

  /** Immutable, chainable schema assembler: every field is nullable, in
    * insertion order. `new SchemaBuilder().add[String]("app").add[Long]("n").build`.
    */
  final class SchemaBuilder private (fields: Vector[StructField]) {
    def this() = this(Vector.empty)

    def add[T](name: String)(implicit ft: SparkFieldType[T]): SchemaBuilder =
      new SchemaBuilder(fields :+ StructField(name, ft.dataType, nullable = true))

    def build: StructType = StructType(fields)
  }

  object SchemaBuilder {
    /** Field-wise concatenation of partial schemas; nulls are skipped so
      * a job with no histogram block can pass `null` for that slot.
      */
    def merge(parts: StructType*): StructType =
      StructType(parts.iterator.filter(_ ne null).flatMap(_.fields).toArray)
  }

  /** Assembles a positional [[Row]] for `schema` from name-keyed updates.
    * Unset slots are null and `None` sets a slot back to null, so one
    * builder can `build` several rows that differ in a few fields; names
    * outside the schema are ignored unless `failOnMissingField`.
    */
  final class RowBuilder(schema: StructType, failOnMissingField: Boolean = false)
      extends Serializable {

    private val slots = new Array[Any](schema.length)
    private val index: Map[String, Int] = schema.fieldNames.zipWithIndex.toMap

    def update(name: String, value: Option[Any]): Unit = {
      val i = index.getOrElse(name, -1)
      if (i >= 0) slots(i) = value.orNull
      else if (failOnMissingField)
        throw new IllegalArgumentException(
          s"""Field "$name" does not exist in schema ${schema.fieldNames.mkString("[", ", ", "]")}""")
    }

    def build: Row = Row.fromSeq(slots.toIndexedSeq)
  }
}
