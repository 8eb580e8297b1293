package graft.streaming

import graft.monitoring.DogStatsDMetric
import graft.pings.{Envelope, EventPing, MainPing}
import org.apache.spark.sql.{DataFrame, Dataset}

import scala.util.Try

/** Normandy/uptake events → DogStatsD counters and timers (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/UptakeEventsToDatadog.scala:59-114).
  */
object UptakeEventsToDatadog {

  private val allowedDocTypes = List("main", "event")

  /** The DogStatsD metrics of one allow-listed ping's events. */
  private[streaming] def metrics(env: Envelope): Seq[DogStatsDMetric] = {
    val docType = env.fieldString("docType").getOrElse("")
    if (!allowedDocTypes.contains(docType)) Seq.empty
    else {
      val uptakeEvents =
        if (docType == "main") MainPing.fromEnvelope(env).getNormandyEvents
        else EventPing.fromEnvelope(env).getUptakeEvents

      val normandyCounters = uptakeEvents.filter(_.category == "normandy").map { e =>
        val tags = Map(
          "experiment" -> e.value.getOrElse(""),
          "branch" -> e.extra.flatMap(_.get("branch")).getOrElse(""))
        DogStatsDMetric.makeCounter(
          s"telemetry.${e.category}.${e.obj}.${e.method}", kvTags = Some(tags))
      }

      val uptakeMetrics = uptakeEvents.filter(_.category == "uptake.remotecontent.result").flatMap { e =>
        // "source" splits into up to 3 tag levels (reference bug 1539249)
        val source = e.extra.flatMap(_.get("source").map(_.split("/")))
        val tags = Map(
          source.flatMap(_.lift(0)).map("source_type" -> _).toSeq ++
          source.flatMap(_.lift(1)).map("source_subtype" -> _).toSeq ++
          source.flatMap(_.lift(2)).map("source_details" -> _).toSeq: _*)
        val metricName = s"telemetry.uptake.${e.obj}.${e.method}.${e.value.getOrElse("null")}"
        val counter = Seq(DogStatsDMetric.makeCounter(metricName, kvTags = Some(tags)))
        val duration = e.extra.flatMap(_.get("duration")).flatMap(d => Try(d.toInt).toOption)
          .map(d => DogStatsDMetric.makeTimer(metricName + ".duration", d, kvTags = Some(tags))).toSeq
        val age = e.extra.flatMap(_.get("age")).flatMap(d => Try(d.toInt).toOption)
          .map(d => DogStatsDMetric.makeTimer(metricName + ".age", d, kvTags = Some(tags))).toSeq
        counter ++ duration ++ age
      }

      normandyCounters ++ uptakeMetrics
    }
  }

  def eventsToMetrics(messages: DataFrame, raiseOnError: Boolean = false): Dataset[DogStatsDMetric] = {
    import messages.sparkSession.implicits._
    EnvelopeDecode(messages, raiseOnError)(metrics)
  }
}
