package graft.streaming

import graft.pings.{Envelope, EventPing, MainPing, TelemetryEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Experiment enrollment/unenrollment counts per 5-minute window —
  * normandy events from main + event pings, conditional `count(when(...))`
  * aggregation (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/ExperimentEnrollmentsAggregator.scala:103-146).
  */
object ExperimentEnrollmentsAggregator {

  private[streaming] val allowedDocTypes = List("main", "event")
  private[streaming] val allowedAppNames = List("Firefox")

  case class ExperimentEnrollmentEvent(
      method: String, // enroll/unenroll
      experiment_id: Option[String],
      branch_id: Option[String],
      `object`: String,
      timestamp: Timestamp,
      submission_date_s3: String)

  /** Method → count column of [[aggregate]]; TestTube extends it. */
  private[streaming] val Methods = Seq(
    "enroll" -> "enroll_count",
    "unenroll" -> "unenroll_count")

  private[streaming] def extractEnrollmentEvents(env: Envelope): Seq[ExperimentEnrollmentEvent] = {
    val docType = env.fieldString("docType").getOrElse("")
    if (!allowedDocTypes.contains(docType) ||
        !env.fieldString("appName").exists(allowedAppNames.contains)) {
      Seq.empty
    } else {
      val (ts, normandyEvents: Seq[TelemetryEvent]) =
        if (docType == "main") {
          val ping = MainPing.fromEnvelope(env)
          (ping.meta.normalizedTimestamp, ping.getNormandyEvents)
        } else {
          val ping = EventPing.fromEnvelope(env)
          (ping.meta.normalizedTimestamp, ping.getNormandyEvents)
        }
      val submissionDate = ErrorAggregator.timestampToDateString(ts)
      normandyEvents.map { e =>
        ExperimentEnrollmentEvent(e.method, e.value, e.extra.flatMap(_.get("branch")),
          e.obj, ts, submissionDate)
      }
    }
  }

  /** envelopes → windowed enrollment counts; batch and streaming. */
  def aggregate(messages: DataFrame): DataFrame = countEnrollments(messages, Methods)

  /** Always-lenient decode, then one `count(when(method = m))` column
    * per `methods` entry, in order, per 5-minute window.
    */
  private[streaming] def countEnrollments(messages: DataFrame, methods: Seq[(String, String)]): DataFrame = {
    import messages.sparkSession.implicits._
    val countCols = methods.map { case (method, alias) =>
      count(when($"method" === method, 1)).alias(alias)
    }
    EnvelopeDecode(messages, raiseOnError = false)(extractEnrollmentEvents)
      .withWatermark("timestamp", "1 minute")
      .groupBy(
        window($"timestamp", "5 minutes").as("window"),
        $"object", $"experiment_id", $"branch_id", $"submission_date_s3")
      .agg(countCols.head, countCols.tail: _*)
      .withColumn("window_start", $"window.start")
      .withColumn("window_end", $"window.end")
      .drop("window")
  }
}
