package graft.streaming

import graft.json._
import org.apache.spark.sql.{DataFrame, Dataset}

import java.sql.Timestamp
import scala.collection.immutable.ListMap

/** Enrollment aggregates as JSON rows for the TestTube HTTP sink: the
  * 7-method conditional-count variant with `object`→`type` rename and
  * epoch-ms windows (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/ExperimentEnrollmentsToTestTube.scala:62-123).
  * The sink caps parallelism with coalesce (reference uses 10).
  */
object ExperimentEnrollmentsToTestTube {

  val MaxParallelRequests = 10

  private val Methods = ExperimentEnrollmentsAggregator.Methods ++ Seq(
    "graduate" -> "graduate_count",
    "update" -> "update_count",
    "enrollFailed" -> "enroll_failed_count",
    "unenrollFailed" -> "unenroll_failed_count",
    "updateFailed" -> "update_failed_count")

  def aggregate(messages: DataFrame): Dataset[String] = {
    import messages.sparkSession.implicits._
    ExperimentEnrollmentsAggregator.countEnrollments(messages, Methods)
      .map { r =>
        // object→type rename + Timestamp→epoch-ms, then JSON
        val fields = r.schema.fieldNames.map { name =>
          val key = if (name == "object") "type" else name
          val value: JsonValue = r.getAs[Any](name) match {
            case t: Timestamp => Json.num(t.getTime)
            case s: String    => Json.str(s)
            case l: Long      => Json.num(l)
            case i: Int       => Json.num(i.toLong)
            case null         => JsonNull
            case other        => Json.str(other.toString)
          }
          key -> value
        }
        JsonObject(ListMap(fields: _*)).render
      }
  }

  /** Sink-ready shape: JSON rows with capped parallelism. */
  def sinkRows(messages: DataFrame): Dataset[String] =
    aggregate(messages).coalesce(MaxParallelRequests)
}
