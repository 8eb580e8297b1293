package graft.streaming

import graft.pings._
import graft.timeseries.{RowBuilder, SchemaBuilder}
import org.apache.spark.sql.functions.{col, sum, window}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Encoders, Row}

import java.sql.Timestamp

/** Error-aggregates pipeline: binary envelopes → parse/validate/fan-out →
  * 5-minute event-time windows → multi-column SUM, composed over
  * runtime-built schemas.
  *
  * One `aggregate` serves both batch and streaming exactly as the
  * reference's does (`withWatermark` is a no-op on batch, `window()` is
  * then a plain grouping expression) —
  * reference: src/main/scala/com/mozilla/telemetry/streaming/ErrorAggregatorBase.scala:220-256.
  *
  * Scale: the flatMap parse is map-side (no shuffle); the single shuffle
  * is the two-phase HashAggregate on (window × 12 dims), whose reduced
  * cardinality — not input rows — bounds exchange volume. Parse errors
  * drop the ping silently unless raiseOnError, preserving the lenient
  * semantics tests depend on (ErrorAggregatorBase.scala:229-236).
  */
abstract class ErrorAggregatorBase extends Serializable {

  def countHistogramErrorsSchema: StructType
  def dimensionsSchema: StructType
  def metricsSchema: StructType

  val allowedDocTypes: List[String] = List("main", "crash", "core")
  val allowedAppNames: List[String] = List("Firefox", "Fennec")
  val coreFennecPingAllowedOses: List[String] = List("Android")
  val disallowedChannels: List[String] = List("Other")

  final lazy val statsSchema: StructType =
    SchemaBuilder.merge(metricsSchema, countHistogramErrorsSchema)

  final lazy val mergedSchema: StructType =
    SchemaBuilder.merge(dimensionsSchema, statsSchema)

  /** A row builder over [[mergedSchema]] holding the ping's dimensions
    * and its count of 1, built once per ping; `buildId` is the
    * normalized build id the caller has already checked
    * (reference: ErrorAggregatorBase.scala:258-280).
    */
  private def pingRow(ping: TelemetryPing, buildId: Option[String]): RowBuilder = {
    val meta = ping.meta
    val timestamp = meta.normalizedTimestamp
    val row = new RowBuilder(mergedSchema)
    row("timestamp") = Some(timestamp)
    row("submission_date_s3") = Some(ErrorAggregator.timestampToDateString(timestamp))
    row("channel") = Some(meta.normalizedChannel)
    row("version") = ping.getVersion
    row("display_version") = ping.getDisplayVersion
    row("build_id") = buildId
    row("application") = Some(meta.appName)
    row("os_name") = ping.getOsName
    row("os_version") = ping.getOsVersion
    row("architecture") = ping.getArchitecture
    row("country") = meta.geoCountry
    row("count") = Some(1)
    row
  }

  /** One output row per experiment, incl. the null-experiment row: the
    * ping's dimensions and stats, copied with each experiment's fields.
    */
  private def perExperiment(ping: TelemetryPing, row: RowBuilder): Array[Row] =
    ping.getExperiments.map { case (experimentId, experimentBranch) =>
      row("experiment_id") = experimentId
      row("experiment_branch") = experimentBranch
      row.build
    }

  private[streaming] def parseCrash(ping: CrashPing, buildId: Option[String]): Array[Row] = {
    if (!(ping.isMainCrash || ping.isContentCrash)) {
      // Other crash kinds are already counted from main pings.
      throw new IllegalArgumentException("Only main and content crash pings are allowed")
    }
    val row = pingRow(ping, buildId)
    if (ping.isMainCrash) {
      row("main_crashes") = Some(1)
      row("startup_crashes") = if (ping.isStartupCrash) Some(1) else None
    } else if (ping.isContentShutdownCrash) {
      row("content_shutdown_crashes") = Some(1)
    } else {
      row("content_crashes") = Some(1)
    }
    perExperiment(ping, row)
  }

  private[streaming] def parseMain(ping: MainPing, buildId: Option[String]): Array[Row] = {
    val usageHours = ping.usageHours
    // A main ping without usage hours carries no usable signal — drop.
    if (usageHours.isEmpty) throw new IllegalArgumentException("Main ping without usage hours")
    val row = pingRow(ping, buildId)
    row("usage_hours") = usageHours
    countHistogramErrorsSchema.fieldNames.foreach { h =>
      row(h) = ping.getCountHistogramValue(h)
    }
    row("gpu_crashes") = ping.getCountKeyedHistogramValue("SUBPROCESS_CRASHES_WITH_DUMP", "gpu")
    row("plugin_crashes") = ping.getCountKeyedHistogramValue("SUBPROCESS_CRASHES_WITH_DUMP", "plugin")
    row("gmplugin_crashes") = ping.getCountKeyedHistogramValue("SUBPROCESS_CRASHES_WITH_DUMP", "gmplugin")
    perExperiment(ping, row)
  }

  private[streaming] def parseCore(ping: CorePing, buildId: Option[String]): Array[Row] = {
    val row = pingRow(ping, buildId)
    row("usage_hours") = ping.usageHours
    perExperiment(ping, row)
  }

  private def checkedBuildId(ping: TelemetryPing): Option[String] = {
    val buildId = ping.getNormalizedBuildId
    if (buildId.isEmpty) throw new IllegalArgumentException("Empty buildId")
    buildId
  }

  /** Allow-list validation + per-doctype dispatch
    * (reference: ErrorAggregatorBase.scala:89-129).
    */
  private[streaming] def parseEnvelope(env: Envelope): Array[Row] = {
    val docType = env.fieldString("docType").getOrElse("")
    if (!allowedDocTypes.contains(docType)) {
      throw new IllegalArgumentException(s"Doctype should be one of ${allowedDocTypes.mkString(",")}")
    }
    val appName = env.fieldString("appName").getOrElse("")
    if (!allowedAppNames.contains(appName)) {
      throw new IllegalArgumentException(s"AppName should be one of ${allowedAppNames.mkString(",")}")
    }
    val channel = env.fieldString("normalizedChannel").getOrElse("")
    if (disallowedChannels.contains(channel)) {
      throw new IllegalArgumentException(s"Channel can't be one of ${disallowedChannels.mkString(",")}")
    }
    docType match {
      case "crash" =>
        val ping = CrashPing.fromEnvelope(env)
        parseCrash(ping, checkedBuildId(ping))
      case "core" =>
        val ping = CorePing.fromEnvelope(env)
        if (!ping.os.exists(coreFennecPingAllowedOses.contains)) {
          throw new IllegalArgumentException(
            s"OS for core pings should be one of ${coreFennecPingAllowedOses.mkString(",")}")
        }
        parseCore(ping, checkedBuildId(ping))
      case _ =>
        val ping = MainPing.fromEnvelope(env)
        parseMain(ping, checkedBuildId(ping))
    }
  }

  /** envelopes(value: binary) → windowed aggregate. */
  def aggregate(pings: DataFrame, raiseOnError: Boolean = false): DataFrame = {
    val parsed = EnvelopeDecode(pings, raiseOnError)(parseEnvelope)(Encoders.row(mergedSchema))

    val dimensionsCols = List(
      window(col("timestamp"), "5 minutes").as("window"),
      col("window.start").as("window_start"),
      col("window.end").as("window_end")
    ) ++ dimensionsSchema.fieldNames.filter(_ != "timestamp").map(col)

    val aggCols = statsSchema.fieldNames.map(s => sum(col(s)).as(s))

    parsed
      .withWatermark("timestamp", "1 minute")
      .groupBy(dimensionsCols: _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .drop("window")
  }
}

/** Concrete error aggregator with the production 13-dim / 9-metric /
  * 5-histogram schema (reference: src/main/scala/com/mozilla/telemetry/streaming/ErrorAggregator.scala:18-52).
  */
object ErrorAggregator extends ErrorAggregatorBase {

  def timestampToDateString(ts: Timestamp): String =
    java.time.Instant.ofEpochMilli(ts.getTime)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.format(Meta.DateFormatter)

  override val countHistogramErrorsSchema: StructType = new SchemaBuilder()
    .add[Int]("BROWSER_SHIM_USAGE_BLOCKED")
    .add[Int]("PERMISSIONS_SQL_CORRUPTED")
    .add[Int]("DEFECTIVE_PERMISSIONS_SQL_REMOVED")
    .add[Int]("SLOW_SCRIPT_NOTICE_COUNT")
    .add[Int]("SLOW_SCRIPT_PAGE_COUNT")
    .build

  override val dimensionsSchema: StructType = new SchemaBuilder()
    .add[Timestamp]("timestamp") // windowed
    .add[String]("submission_date_s3")
    .add[String]("channel")
    .add[String]("version")
    .add[String]("display_version")
    .add[String]("build_id")
    .add[String]("application")
    .add[String]("os_name")
    .add[String]("os_version")
    .add[String]("architecture")
    .add[String]("country")
    .add[String]("experiment_id")
    .add[String]("experiment_branch")
    .build

  override val metricsSchema: StructType = new SchemaBuilder()
    .add[Float]("usage_hours")
    .add[Int]("count")
    .add[Int]("main_crashes")
    .add[Int]("startup_crashes")
    .add[Int]("content_crashes")
    .add[Int]("gpu_crashes")
    .add[Int]("plugin_crashes")
    .add[Int]("gmplugin_crashes")
    .add[Int]("content_shutdown_crashes")
    .build
}

/** Experiments variant: fewer dimensions, no histogram columns — proves
  * the schema composition is genuinely dynamic
  * (reference: src/main/scala/com/mozilla/telemetry/streaming/ExperimentsErrorAggregator.scala:16-39).
  */
object ExperimentsErrorAggregator extends ErrorAggregatorBase {

  override val countHistogramErrorsSchema: StructType = new SchemaBuilder().build

  override val dimensionsSchema: StructType = new SchemaBuilder()
    .add[Timestamp]("timestamp")
    .add[String]("submission_date_s3")
    .add[String]("channel")
    .add[String]("version")
    .add[String]("os_name")
    .add[String]("country")
    .add[String]("experiment_id")
    .add[String]("experiment_branch")
    .build

  override val metricsSchema: StructType = new SchemaBuilder()
    .add[Float]("usage_hours")
    .add[Int]("count")
    .add[Int]("main_crashes")
    .add[Int]("startup_crashes")
    .add[Int]("content_crashes")
    .add[Int]("gpu_crashes")
    .add[Int]("plugin_crashes")
    .add[Int]("gmplugin_crashes")
    .add[Int]("content_shutdown_crashes")
    .build
}
