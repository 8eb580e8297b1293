package graft.streaming

import graft.sources.EnvelopeStore
import org.apache.spark.sql.functions.{col, date_format, from_unixtime, lit}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import StreamingJobBase.{JobOpts, TelemetryKafkaTopic}

/** Job entry points mirroring the reference's ten `main()`s: one
  * streaming/batch dual-mode runner per pipeline. Streaming mode reads
  * Kafka with the reference's consumer options
  * (ErrorAggregatorBase.scala:131-141); batch mode runs a per-day loop
  * over the partitioned envelope store with pruning
  * (ErrorAggregatorBase.scala:157-197).
  *
  * Kafka is wired but not exercisable in this environment (no broker);
  * the batch/`MemoryStream` paths run the identical aggregate code, as
  * the reference's own tests rely on.
  */
object Jobs {

  /** The exact option map handed to the Kafka source — extracted pure
    * so the consumer tuning (8MB fetch cap, consumer-cache capacity,
    * startingOffsets, failOnDataLoss, topic) is assertable in specs:
    * with no broker in this environment, the option PLUMBING is the
    * only Kafka-specific surface left untested by the DSv2 twin runs.
    */
  def kafkaSourceOptions(opts: JobOpts, consumerCacheCapacity: Int): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> opts.kafkaBroker.get,
      "failOnDataLoss" -> opts.flag("failOnDataLoss").toString,
      "kafka.max.partition.fetch.bytes" -> (8 * 1024 * 1024).toString, // 8MB
      "spark.streaming.kafka.consumer.cache.maxCapacity" -> consumerCacheCapacity.toString,
      "subscribe" -> TelemetryKafkaTopic,
      "startingOffsets" -> opts.startingOffsets)

  def kafkaStream(spark: SparkSession, opts: JobOpts,
                  consumerCacheCapacity: Int = 1000): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(opts, consumerCacheCapacity))
      .load()
      .select("value")

  /** A job main: parse the CLI, build the job session, run the job; a
    * batch run stops its session when the last day is written. A
    * `streamingOnly` job has no batch branch, so `--from` is a usage
    * error, raised before any session is built.
    */
  private def jobMain(args: Array[String], jobName: String, appName: String,
                      streamingOnly: Boolean = false)(
      run: (SparkSession, JobOpts) => Unit): Unit = {
    val opts = StreamingJobBase.parseOpts(jobName, args)
    require(opts.isStreaming || !streamingOnly,
      s"$jobName runs only as a stream: use --kafkaBroker, not --from")
    val spark = StreamingJobBase.buildSession(appName)
    run(spark, opts)
    if (!opts.isStreaming) spark.stop()
  }

  /** The batch day loop: `run` gets each day from `--from` to `--to` with
    * only that day's `docTypes` × `appNames` directories of the store
    * (an empty list reads every value). The store's partition values
    * are the same envelope fields the jobs' allow-lists check, so the
    * output is the same, and envelopes a job would drop are never read
    * or decoded. The jobs keep their own checks for the Kafka path,
    * which has no partitions.
    */
  private def forEachDay(spark: SparkSession, opts: JobOpts, docTypes: Seq[String],
                         appNames: Seq[String] = Nil)(run: (String, DataFrame) => Unit): Unit = {
    val envelopeDir = opts.get("envelopeDir")
      .getOrElse(throw new IllegalArgumentException("--envelopeDir required in batch mode"))
    StreamingJobBase.datesBetween(opts.from.get, opts.to).foreach { day =>
      run(day, EnvelopeStore.read(spark, envelopeDir,
        submissionDate = Some(day), docTypes = docTypes, appNames = appNames))
    }
  }

  /** Sets the job's checkpoint and starts its query. */
  private def start(opts: JobOpts, writer: DataStreamWriter[_]): StreamingQuery =
    writer.option("checkpointLocation", opts.checkpointPath).start()

  /** The end of every streaming main: start the query and serve it. */
  private def runStream(opts: JobOpts, writer: DataStreamWriter[_]): Unit =
    start(opts, writer).awaitTermination()

  /** A dual-mode job writing partitioned parquet under
    * `outputPath/prefix`: the same transform streams from Kafka
    * (`repartition(1)`, checkpointed) or backfills one day at a time.
    */
  sealed abstract class ParquetJob(jobName: String, appName: String, prefix: String,
                                   partitionColumns: Seq[String], consumerCacheCapacity: Int,
                                   docTypes: Seq[String], appNames: Seq[String]) {
    /** The job's rows from a frame of envelopes, in either mode. */
    protected def rows(opts: JobOpts, envelopes: DataFrame): DataFrame

    /** The streamed rows, with their partition columns. */
    protected def streamRows(opts: JobOpts, envelopes: DataFrame): DataFrame = rows(opts, envelopes)

    /** Writes one backfilled day. */
    protected def writeDay(opts: JobOpts, day: String, rows: DataFrame): Unit =
      rows.repartition(opts.numParquetFiles)
        .write
        .mode("overwrite")
        .partitionBy(partitionColumns: _*)
        .parquet(path(opts))

    protected def path(opts: JobOpts): String =
      s"${opts.getOrElse("outputPath", "/tmp/parquet")}/$prefix"

    def main(args: Array[String]): Unit = jobMain(args, jobName, appName)(run)

    def run(spark: SparkSession, opts: JobOpts): Unit =
      if (opts.isStreaming) runStream(opts, sink(opts, kafkaStream(spark, opts, consumerCacheCapacity)))
      else forEachDay(spark, opts, docTypes, appNames)((day, pings) => writeDay(opts, day, rows(opts, pings)))

    /** The streaming job over an injected source: the mains pass
      * [[kafkaStream]]; specs pass a `graft-synth` or `MemoryStream`
      * envelope stream and drive the real job wiring end to end
      * (including checkpoint restart), which a broker-less environment
      * can't do through the Kafka format. Specs pump and stop the query.
      */
    private[streaming] def startWithSource(opts: JobOpts, source: DataFrame): StreamingQuery =
      start(opts, sink(opts, source))

    private def sink(opts: JobOpts, source: DataFrame): DataStreamWriter[Row] =
      streamRows(opts, source)
        .repartition(1)
        .writeStream
        .queryName("main_query")
        .format("parquet")
        .option("path", path(opts))
        .partitionBy(partitionColumns: _*)
  }

  /** Error aggregates job (reference job #1). */
  object ErrorAggregatorJob extends ParquetJob("error_aggregator", "Error Aggregates",
      "error_aggregator/v2", Seq("submission_date_s3"), consumerCacheCapacity = 1000,
      ErrorAggregator.allowedDocTypes, ErrorAggregator.allowedAppNames) {
    protected def rows(opts: JobOpts, envelopes: DataFrame): DataFrame =
      ErrorAggregator.aggregate(envelopes, opts.raiseOnError)
  }

  /** Event-ping explode job (reference job #6). */
  object EventPingEventsJob extends ParquetJob("event_ping_events", "Event Ping Events",
      "events/v1", Seq("submission_date_s3", "doc_type"), consumerCacheCapacity = 10,
      Seq("event"), Seq("Firefox")) {
    protected def rows(opts: JobOpts, envelopes: DataFrame): DataFrame =
      EventPingEvents.explodeEvents(envelopes).toDF()

    override protected def streamRows(opts: JobOpts, envelopes: DataFrame): DataFrame =
      rows(opts, envelopes)
        .withColumn("submission_date_s3", date_format(from_unixtime(col("timestamp")), "yyyyMMdd"))
        .withColumn("doc_type", lit("event"))

    // manual partition dir in the path + maxRecordsPerFile, as the
    // reference does (EventPingEvents.scala:95-101)
    override protected def writeDay(opts: JobOpts, day: String, rows: DataFrame): Unit =
      rows.write
        .option("maxRecordsPerFile", opts.getOrElse("max-records-per-file", "10000000"))
        .mode("overwrite")
        .parquet(s"${path(opts)}/submission_date_s3=$day/doc_type=event")
  }

  /** Enrollment aggregates job (reference job #7). */
  object ExperimentEnrollmentsJob extends ParquetJob("experiment_enrollments_aggregator",
      "Experiment Enrollments Aggregates", "experiment_enrollments/v1", Seq("submission_date_s3"),
      consumerCacheCapacity = 100,
      ExperimentEnrollmentsAggregator.allowedDocTypes, ExperimentEnrollmentsAggregator.allowedAppNames) {
    protected def rows(opts: JobOpts, envelopes: DataFrame): DataFrame =
      ExperimentEnrollmentsAggregator.aggregate(envelopes)
  }

  /** Enrollment aggregates → TestTube HTTP (reference job #8). */
  object ExperimentEnrollmentsToTestTubeJob {
    def main(args: Array[String]): Unit =
      jobMain(args, "experiment_enrollments_to_testtube", "Experiment Enrollments To TestTube",
        streamingOnly = true)(run(_, _))
    def run(spark: SparkSession, opts: JobOpts,
            sinkFactory: String => graft.sinks.TestTubeHttpSink =
              url => new graft.sinks.TestTubeHttpSink(url)): Unit = {
      val url = opts.getOrElse("url", "http://localhost/testtube")
      runStream(opts, ExperimentEnrollmentsToTestTube.sinkRows(kafkaStream(spark, opts, 100))
        .writeStream
        .queryName("main_query")
        .foreach(sinkFactory(url)))
    }
  }

  /** Crash pings → Influx/OpenTSDB lines over HTTP (reference jobs
    * #3/#4). `jobName` is unused: `opts` already carries the job's name.
    */
  def runCrashJob(pipeline: CrashPingStreamBase, jobName: String,
                  spark: SparkSession, opts: JobOpts): Unit = {
    val url = opts.getOrElse("url", "http://localhost/write")
    val measurement = opts.getOrElse("measurementName", "firefox_crashes")
    val batchSize = opts.getOrElse("httpBatchSize", "1").toInt
    val maxParallel = opts.getOrElse("maxParallelRequests", "100").toInt
    if (opts.isStreaming) {
      runStream(opts, pipeline.getParsedPings(kafkaStream(spark, opts, 100), opts.raiseOnError, measurement)
        .writeStream
        .foreach(pipeline.getHttpSink(url, batchSize)))
    } else {
      forEachDay(spark, opts, docTypes = Seq("crash")) { (_, pings) =>
        pipeline.getParsedPings(pings, opts.raiseOnError, measurement)
          .repartition(maxParallel)
          .foreachPartition { partition: Iterator[String] =>
            val sink = pipeline.getHttpSink(url, batchSize)
            partition.foreach(sink.process)
            sink.close(null)
          }
      }
    }
  }

  object CrashesToInfluxJob {
    def main(args: Array[String]): Unit =
      jobMain(args, "crashes_to_influx", "CrashesToInflux")(
        runCrashJob(CrashesToInflux, "crashes_to_influx", _, _))
  }

  object CrashesToOpenTsdbJob {
    def main(args: Array[String]): Unit =
      jobMain(args, "crashes_to_opentsdb", "CrashesToOpenTsdb")(
        runCrashJob(CrashesToOpenTsdb, "crashes_to_opentsdb", _, _))
  }

  /** Uptake events → DogStatsD UDP (reference job #9). */
  object UptakeEventsToDatadogJob {
    def main(args: Array[String]): Unit =
      jobMain(args, "uptake_events_to_datadog", "UptakeEventsToDatadog",
          streamingOnly = true) { (spark, opts) =>
        val host = opts.getOrElse("statsdHost", "localhost")
        val port = opts.getOrElse("statsdPort", "8125").toInt
        runStream(opts, UptakeEventsToDatadog.eventsToMetrics(kafkaStream(spark, opts, 100), opts.raiseOnError)
          .writeStream
          .outputMode("append")
          .foreach(new graft.sinks.DogStatsDMetricSink(host, port)))
      }
  }

  /** Config-driven events → Amplitude (reference job #5). */
  object EventsToAmplitudeJob {
    def main(args: Array[String]): Unit =
      jobMain(args, "events_to_amplitude", "EventsToAmplitude") { (spark, opts) =>
        val apiKey = sys.env.getOrElse("AMPLITUDE_API_KEY",
          throw new IllegalArgumentException("AMPLITUDE_API_KEY not set"))
        run(spark, opts, apiKey)
      }
    def run(spark: SparkSession, opts: JobOpts, apiKey: String,
            sinkFactory: (String, String) => graft.sinks.AmplitudeHttpSink =
              (key, url) => graft.sinks.AmplitudeHttpSink(key, url)): Unit = {
      val config = graft.amplitude.AmplitudeConfig.load(opts.get("configFilePath")
        .getOrElse(throw new IllegalArgumentException("--configFilePath required")))
      val url = opts.getOrElse("url", "http://localhost/batch")
      val sample = opts.getOrElse("sample", "1.0").toDouble
      require(sample > 0.0 && sample <= 1.0, "sample must be in (0, 1]")
      if (opts.isStreaming) {
        runStream(opts, EventsToAmplitude.streamingEvents(config, kafkaStream(spark, opts, 1000),
          sample, opts.raiseOnError)
          .writeStream
          .foreach(sinkFactory(apiKey, url)))
      } else {
        val maxParallel = opts.getOrElse("maxParallelRequests", "100").toInt
        val minDelay = opts.getOrElse("minDelay", "0").toInt
        // config filters fold into the pruned store scan
        forEachDay(spark, opts, config.filters.getOrElse("docType", Nil),
            config.filters.getOrElse("appName", Nil)) { (_, pings) =>
          EventsToAmplitude.getEvents(config, pings, sample, opts.raiseOnError)
            .repartition(maxParallel, col("clientId"))
            .foreachPartition {
              partition: Iterator[graft.amplitude.KeyedAmplitudePayload] =>
                sinkFactory(apiKey, url)
                  .batchAndProcess(partition.map(_.events), minDelay)
            }
        }
      }
    }
  }

  /** Frecency gradient aggregation → stateful RProp model sink
    * (reference job #10), wired as foreachBatch.
    */
  object FederatedLearningJob {
    def main(args: Array[String]): Unit =
      jobMain(args, "federated_learning_search_optimizer", "FederatedLearningSearchOptimizer",
          streamingOnly = true) {
        (spark, opts) =>
          val sink = new graft.learning.FederatedLearningSink(
            opts.getOrElse("modelOutputPath", "/tmp/frecency-model"),
            opts.getOrElse("stateCheckpointPath", "/tmp/frecency-state"),
            opts.get("stateBootstrapFilePath"))
          runStream(opts, FrecencyAggregator.aggregate(
              kafkaStream(spark, opts, 100).toDF(),
              opts.getOrElse("modelBranch", "model1"),
              SystemClock,
              opts.getOrElse("windowOffsetMin", "28").toInt,
              opts.raiseOnError)
            .writeStream
            .outputMode("append")
            .foreachBatch((ds: org.apache.spark.sql.Dataset[FrecencyUpdateAggregate], id: Long) =>
              sink.addBatch(ds, id)))
      }
  }
}
