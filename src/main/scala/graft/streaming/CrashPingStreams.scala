package graft.streaming

import graft.pings.{CrashPing, Envelope}
import graft.sinks.{BatchHttpSink, HttpSink}
import org.apache.spark.sql.{DataFrame, Dataset}

import scala.collection.immutable.ListMap

/** Crash-ping → monitoring-line pipelines (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/CrashPingStreamingBase.scala:172-225
  * with the Influx/OpenTSDB concretes at CrashesToInflux.scala:13-34 and
  * CrashesToOpenTsdb.scala:13-42).
  *
  * Tag maps preserve insertion order (ListMap) and drop empty values; the
  * optional external crash-signature enrichment is intentionally not
  * shelled out here — `formatCrashSignature` handles a caller-provided
  * signature string.
  */
trait CrashPingStreamBase extends Serializable {

  val defaultChannels: List[String] = List("release", "beta", "nightly")
  val defaultAppNames: List[String] = List("Firefox")

  def buildOutputString(measurementName: String, timestamp: Long,
                        buildId: String, tags: Map[String, String]): String

  def formatCrashSignature(signature: String): String

  def getHttpSink(url: String, maxBatchSize: Int): BatchHttpSink

  def parsePing(env: Envelope, channels: List[String], appNames: List[String],
                measurementName: String,
                signatureProvider: Option[Envelope => Option[String]] = None): Option[String] = {
    if (!env.fieldString("docType").contains("crash")) None
    else {
      val ping = CrashPing.fromEnvelope(env)
      val meta = ping.meta
      if (!channels.contains(meta.normalizedChannel) || !appNames.contains(meta.appName)) None
      else {
        val buildId = ping.getNormalizedBuildId.orElse(meta.appBuildId).getOrElse("")
        val crashSignature = signatureProvider.flatMap(_(env))
          .map(formatCrashSignature).getOrElse("")
        val tags = ListMap(
          "submissionDate" -> meta.submissionDate,
          "appVersion" -> meta.appVersion.getOrElse(""),
          "appName" -> meta.appName,
          "displayVersion" -> ping.getDisplayVersion.getOrElse(""),
          "channel" -> meta.normalizedChannel,
          "country" -> meta.geoCountry.getOrElse(""),
          "osName" -> ping.getOsName.getOrElse(""),
          "osVersion" -> ping.getOsVersion.getOrElse(""),
          "architecture" -> ping.getArchitecture.getOrElse(""),
          "buildIdTag" -> buildId,
          "crashSignature" -> crashSignature
        ).filter { case (_, v) => v.nonEmpty }
        Some(buildOutputString(measurementName, meta.timestamp, buildId, tags))
      }
    }
  }

  def getParsedPings(pings: DataFrame, raiseOnError: Boolean, measurementName: String,
                     channels: List[String] = defaultChannels,
                     appNames: List[String] = defaultAppNames,
                     signatureProvider: Option[Envelope => Option[String]] = None): Dataset[String] = {
    import pings.sparkSession.implicits._
    EnvelopeDecode(pings, raiseOnError)(
      parsePing(_, channels, appNames, measurementName, signatureProvider))
  }
}

/** InfluxDB line protocol: `measurement,k=v,... buildId=<id> <tsNanos>`
  * (reference: CrashesToInflux.scala:13-34).
  */
object CrashesToInflux extends CrashPingStreamBase {

  override def buildOutputString(measurementName: String, timestamp: Long,
                                 buildId: String, tags: Map[String, String]): String =
    measurementName +
      tags.map { case (k, v) => s"$k=$v" }.mkString(",", ",", " ") +
      s"buildId=$buildId" + " " + timestamp

  override def formatCrashSignature(signature: String): String =
    signature
      .replace(" ", "\\ ")
      .replace(",", "\\,")
      .replace("=", "\\=")
      .replace("\"", "\\\"")

  override def getHttpSink(url: String, maxBatchSize: Int): BatchHttpSink =
    new BatchHttpSink(url, maxBatchSize = maxBatchSize,
      config = HttpSink.Config(successCodes = Set(204)))
}

/** OpenTSDB JSON: `{metric, timestamp: ns→ms, value: buildId, tags{…}}`
  * (reference: CrashesToOpenTsdb.scala:13-42).
  */
object CrashesToOpenTsdb extends CrashPingStreamBase {

  override def buildOutputString(measurementName: String, timestamp: Long,
                                 buildId: String, tags: Map[String, String]): String = {
    val formattedTags = tags
      .map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ",\n", "}")
    s"""
       |{
       |  "metric": "$measurementName",
       |  "timestamp": ${timestamp / 1000000},
       |  "value": "$buildId",
       |  "tags": $formattedTags
       |}
        """.stripMargin
  }

  override def formatCrashSignature(signature: String): String =
    signature
      .replace(" | ", ".")
      .replace("::", "-")
      .replace(" ", "_")
      .replaceAll("[^a-zA-Z0-9_./-]", "/")

  override def getHttpSink(url: String, maxBatchSize: Int): BatchHttpSink =
    new BatchHttpSink(url, maxBatchSize = maxBatchSize,
      prefix = "[", sep = ",", suffix = "]",
      config = HttpSink.Config(successCodes = Set(204)))
}
