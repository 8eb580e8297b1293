package graft.streaming

import graft.amplitude.{AmplitudeConfig, KeyedAmplitudePayload, SendsToAmplitude}
import graft.pings.Envelope
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Dataset}

/** Config-driven event forwarding (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/EventsToAmplitude.scala:146-181).
  *
  * Scale notes: the repartition on clientId (reference bug 1484819) keys
  * the only shuffle so one client's events land in one sink partition —
  * both for sink affinity and because Amplitude throttles per device id.
  */
object EventsToAmplitude {

  def parsePing(env: Envelope, sample: Double, config: AmplitudeConfig): Seq[KeyedAmplitudePayload] = {
    val passesTopLevel = config.topLevelFilters
      // Partition-only fields may be absent from the envelope; those
      // filters apply at scan time in batch mode and are skipped here.
      .filter { case (name, _) => env.fields.contains(name) }
      .forall { case (name, allowed) => env.fieldString(name).exists(allowed.contains) }
    if (!passesTopLevel) Seq.empty
    else SendsToAmplitude.fromEnvelope(env) match {
      case p if !p.includePing(sample, config) => Seq.empty
      case p => p.getAmplitudeEvents(config).toSeq
    }
  }

  def getEvents(config: AmplitudeConfig, pings: DataFrame, sample: Double,
                raiseOnError: Boolean): Dataset[KeyedAmplitudePayload] = {
    import pings.sparkSession.implicits._
    EnvelopeDecode(pings, raiseOnError)(parsePing(_, sample, config))
  }

  /** Streaming shape: events keyed by client, ready for
    * `writeStream.foreach(AmplitudeHttpSink(...))`.
    */
  def streamingEvents(config: AmplitudeConfig, pings: DataFrame, sample: Double,
                      raiseOnError: Boolean = false): Dataset[Seq[String]] = {
    import pings.sparkSession.implicits._
    getEvents(config, pings.select("value"), sample, raiseOnError)
      .repartition(col("clientId"))
      .map(_.events)
  }
}
