package graft.streaming

import graft.pings.{Envelope, EventPing}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Event-ping explode: one typed output row per event per process
  * (reference: src/main/scala/com/mozilla/telemetry/streaming/EventPingEvents.scala:107-148).
  *
  * The explode is pure flatMap — map-side only, no shuffle. The writer is
  * expected to partition output by (submission_date_s3, docType) and cap
  * file size with maxRecordsPerFile=10M, as the reference job does.
  */
object EventPingEvents {

  private val allowedDocTypes = List("event")

  /** 22-column typed event row (reference: EventPingEvents.scala:142-148). */
  case class EventRow(
      document_id: String, client_id: String, normalized_channel: String,
      country: String, locale: Option[String], app_name: String, app_version: String,
      os: Option[String], os_version: Option[String], session_id: String, subsession_id: String,
      session_start_time: Long, timestamp: Long, sample_id: Option[String],
      experiments: Option[Map[String, String]], event_timestamp: Long, event_category: String,
      event_method: String, event_object: String, event_string_value: Option[String],
      event_map_values: Option[Map[String, String]], event_process: String)

  /** One row per event per process of an allow-listed event ping. */
  private[streaming] def eventRows(env: Envelope): Seq[EventRow] =
    if (!env.fieldString("docType").exists(allowedDocTypes.contains)) Seq.empty
    else {
      val ping = EventPing.fromEnvelope(env)
      ping.processEventMap.toSeq.flatMap { case (process, events) =>
        events.map { e =>
          EventRow(
            document_id = ping.meta.documentId.get,
            client_id = ping.meta.clientId.get,
            normalized_channel = ping.meta.normalizedChannel,
            country = ping.meta.geoCountry.getOrElse(""),
            locale = ping.getLocale,
            app_name = ping.meta.appName,
            app_version = ping.meta.appVersion.getOrElse(""),
            os = ping.getOsName,
            os_version = ping.getOsVersion,
            session_id = ping.sessionId.getOrElse(""),
            subsession_id = ping.subsessionId.getOrElse(""),
            session_start_time = ping.sessionStart,
            timestamp = (ping.meta.timestamp / 1e9).toLong,
            sample_id = ping.meta.stringSampleId,
            experiments = ping.getMSStyleExperiments,
            event_timestamp = e.timestamp,
            event_category = e.category,
            event_method = e.method,
            event_object = e.obj,
            event_string_value = e.value,
            // stringify map values (SPARK-23251 workaround in the
            // reference; harmless normalization here)
            event_map_values = e.extra,
            event_process = process)
        }
      }
    }

  /** Always lenient, as the reference job is. */
  def explodeEvents(messages: DataFrame): Dataset[EventRow] = {
    import messages.sparkSession.implicits._
    EnvelopeDecode(messages, raiseOnError = false)(eventRows)
  }
}
