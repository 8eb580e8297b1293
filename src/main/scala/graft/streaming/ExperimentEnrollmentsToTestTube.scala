package graft.streaming

import graft.json._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset}

import java.sql.Timestamp
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

/** Enrollment aggregates as JSON rows for the TestTube HTTP sink: the
  * 7-method conditional-count variant with `object`→`type` rename and
  * epoch-ms windows (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/ExperimentEnrollmentsToTestTube.scala:62-123).
  * The sink caps parallelism with coalesce (reference uses 10).
  */
object ExperimentEnrollmentsToTestTube {

  val MaxParallelRequests = 10

  private val Methods = Seq(
    "enroll" -> "enroll_count",
    "unenroll" -> "unenroll_count",
    "graduate" -> "graduate_count",
    "update" -> "update_count",
    "enrollFailed" -> "enroll_failed_count",
    "unenrollFailed" -> "unenroll_failed_count",
    "updateFailed" -> "update_failed_count")

  def aggregate(messages: DataFrame): Dataset[String] = {
    import messages.sparkSession.implicits._
    val events = messages.flatMap { v =>
      try ExperimentEnrollmentsAggregator.extractEnrollmentEvents(v.getAs[Array[Byte]](0))
      catch { case NonFatal(_) => Seq.empty[ExperimentEnrollmentsAggregator.ExperimentEnrollmentEvent] }
    }
    val countCols = Methods.map { case (method, alias) =>
      count(when($"method" === method, 1)).alias(alias)
    }
    events
      .withWatermark("timestamp", "1 minute")
      .groupBy(
        window($"timestamp", "5 minutes").as("window"),
        $"object", $"experiment_id", $"branch_id", $"submission_date_s3")
      .agg(countCols.head, countCols.tail: _*)
      .withColumn("window_start", $"window.start")
      .withColumn("window_end", $"window.end")
      .drop("window")
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
