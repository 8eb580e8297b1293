package graft.streaming

import graft.sources.EnvelopeStore
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** The post-source streaming DAG exactly as the job mains run it
    * (aggregate → repartition(1) → partitioned parquet + checkpoint),
    * with the SOURCE injected: the mains pass [[kafkaStream]]; specs
    * pass a DSv2 `graft-synth`-derived envelope stream and drive the
    * REAL job wiring end-to-end — including checkpoint restart — which
    * a broker-less environment can't do through the Kafka format.
    * Returns the started query (the mains await; specs pump and stop).
    */
  private[streaming] def startStreamingQuery(
      job: StreamingJobBase,
      opts: JobOpts,
      transform: DataFrame => DataFrame,
      partitionColumns: Seq[String],
      source: DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
    val outputPath = opts.getOrElse("outputPath", "/tmp/parquet")
    transform(source)
      .repartition(1)
      .writeStream
      .queryName(job.QueryName)
      .format("parquet")
      .option("path", s"$outputPath/${job.outputPrefix}")
      .option("checkpointLocation", opts.checkpointPath)
      .partitionBy(partitionColumns: _*)
      .start()
  }

  /** Shared dual-mode driver: `transform` is the pipeline's aggregate,
    * applied unchanged in both modes. Batch mode reads only the
    * `docTypes` × `appNames` directories of each day: the store's
    * partition values are the same envelope fields the transform's
    * allow-list checks, so the output is the same, and envelopes the
    * transform would drop are never read or decoded. The transform keeps
    * its own checks for the Kafka path, which has no partitions.
    */
  private def runDualMode(
      job: StreamingJobBase,
      opts: JobOpts,
      spark: SparkSession,
      transform: DataFrame => DataFrame,
      partitionColumns: Seq[String],
      consumerCacheCapacity: Int,
      docTypes: Seq[String],
      appNames: Seq[String]): Unit = {
    val outputPath = opts.getOrElse("outputPath", "/tmp/parquet")
    if (opts.isStreaming) {
      startStreamingQuery(job, opts, transform, partitionColumns,
        kafkaStream(spark, opts, consumerCacheCapacity))
        .awaitTermination()
    } else {
      val envelopeDir = opts.get("envelopeDir")
        .getOrElse(throw new IllegalArgumentException("--envelopeDir required in batch mode"))
      job.datesBetween(opts.from.get, opts.to).foreach { date =>
        val pings = EnvelopeStore.read(spark, envelopeDir,
          submissionDate = Some(date), docTypes = docTypes, appNames = appNames)
        transform(pings)
          .repartition(opts.numParquetFiles)
          .write
          .mode("overwrite")
          .partitionBy(partitionColumns: _*)
          .parquet(s"$outputPath/${job.outputPrefix}")
      }
    }
  }

  /** Error aggregates job (reference job #1). */
  object ErrorAggregatorJob {
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("error_aggregator", args)
      val spark = ErrorAggregatorJobDef.buildSession("Error Aggregates")
      run(spark, opts)
      if (!opts.isStreaming) spark.stop()
    }
    def run(spark: SparkSession, opts: JobOpts): Unit =
      runDualMode(ErrorAggregatorJobDef, opts, spark,
        df => ErrorAggregator.aggregate(df, opts.raiseOnError),
        Seq("submission_date_s3"), consumerCacheCapacity = 1000,
        ErrorAggregator.allowedDocTypes, ErrorAggregator.allowedAppNames)
    /** The real streaming job (same transform, sink, partitioning, and
      * checkpoint wiring as [[run]]'s streaming branch) over an injected
      * source — see [[Jobs.startStreamingQuery]].
      */
    private[streaming] def startWithSource(
        opts: JobOpts, source: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
      startStreamingQuery(ErrorAggregatorJobDef, opts,
        df => ErrorAggregator.aggregate(df, opts.raiseOnError),
        Seq("submission_date_s3"), source)
  }
  private object ErrorAggregatorJobDef extends StreamingJobBase {
    override val JobName = "error_aggregator"
    override val outputPrefix = "error_aggregator/v2"
  }

  /** Event-ping explode job (reference job #6). */
  object EventPingEventsJob {
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("event_ping_events", args)
      val spark = EventPingEventsJobDef.buildSession("Event Ping Events")
      run(spark, opts)
      if (!opts.isStreaming) spark.stop()
    }
    def run(spark: SparkSession, opts: JobOpts): Unit = {
      val maxRecords = opts.getOrElse("max-records-per-file", "10000000")
      if (opts.isStreaming) {
        import org.apache.spark.sql.functions.lit
        EventPingEvents.explodeEvents(kafkaStream(spark, opts, consumerCacheCapacity = 10))
          .withColumn("submission_date_s3",
            org.apache.spark.sql.functions.date_format(
              org.apache.spark.sql.functions.from_unixtime(org.apache.spark.sql.functions.col("timestamp")), "yyyyMMdd"))
          .withColumn("doc_type", lit("event"))
          .repartition(1)
          .writeStream
          .queryName(EventPingEventsJobDef.QueryName)
          .format("parquet")
          .option("path", s"${opts.getOrElse("outputPath", "/tmp/parquet")}/${EventPingEventsJobDef.outputPrefix}")
          .option("checkpointLocation", opts.checkpointPath)
          .partitionBy("submission_date_s3", "doc_type")
          .start()
          .awaitTermination()
      } else {
        val envelopeDir = opts.get("envelopeDir")
          .getOrElse(throw new IllegalArgumentException("--envelopeDir required in batch mode"))
        EventPingEventsJobDef.datesBetween(opts.from.get, opts.to).foreach { date =>
          val pings = EnvelopeStore.read(spark, envelopeDir,
            submissionDate = Some(date), docTypes = Seq("event"), appNames = Seq("Firefox"))
          // manual partition dir in the path + maxRecordsPerFile, as the
          // reference does (EventPingEvents.scala:95-101)
          EventPingEvents.explodeEvents(pings)
            .write
            .option("maxRecordsPerFile", maxRecords)
            .mode("overwrite")
            .parquet(s"${opts.getOrElse("outputPath", "/tmp/parquet")}/${EventPingEventsJobDef.outputPrefix}/submission_date_s3=$date/doc_type=event")
        }
      }
    }
  }
  private object EventPingEventsJobDef extends StreamingJobBase {
    override val JobName = "event_ping_events"
    override val outputPrefix = "events/v1"
  }

  /** Enrollment aggregates job (reference job #7). */
  object ExperimentEnrollmentsJob {
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("experiment_enrollments_aggregator", args)
      val spark = EnrollmentsJobDef.buildSession("Experiment Enrollments Aggregates")
      run(spark, opts)
      if (!opts.isStreaming) spark.stop()
    }
    def run(spark: SparkSession, opts: JobOpts): Unit =
      runDualMode(EnrollmentsJobDef, opts, spark,
        df => ExperimentEnrollmentsAggregator.aggregate(df),
        Seq("submission_date_s3"), consumerCacheCapacity = 100,
        ExperimentEnrollmentsAggregator.allowedDocTypes, ExperimentEnrollmentsAggregator.allowedAppNames)
  }
  private object EnrollmentsJobDef extends StreamingJobBase {
    override val JobName = "experiment_enrollments_aggregator"
    override val outputPrefix = "experiment_enrollments/v1"
  }

  /** Enrollment aggregates → TestTube HTTP (reference job #8). */
  object ExperimentEnrollmentsToTestTubeJob {
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("experiment_enrollments_to_testtube", args)
      val spark = TestTubeJobDef.buildSession("Experiment Enrollments To TestTube")
      run(spark, opts)
    }
    def run(spark: SparkSession, opts: JobOpts,
            sinkFactory: String => graft.sinks.TestTubeHttpSink =
              url => new graft.sinks.TestTubeHttpSink(url)): Unit = {
      val url = opts.getOrElse("url", "http://localhost/testtube")
      ExperimentEnrollmentsToTestTube.sinkRows(kafkaStream(spark, opts, 100))
        .writeStream
        .queryName(TestTubeJobDef.QueryName)
        .option("checkpointLocation", opts.checkpointPath)
        .foreach(sinkFactory(url))
        .start()
        .awaitTermination()
    }
  }
  private object TestTubeJobDef extends StreamingJobBase {
    override val JobName = "experiment_enrollments_to_testtube"
  }

  /** Crash pings → Influx/OpenTSDB lines over HTTP (reference jobs #3/#4). */
  def runCrashJob(pipeline: CrashPingStreamBase, jobName: String,
                  spark: SparkSession, opts: JobOpts): Unit = {
    val url = opts.getOrElse("url", "http://localhost/write")
    val measurement = opts.getOrElse("measurementName", "firefox_crashes")
    val batchSize = opts.getOrElse("httpBatchSize", "1").toInt
    val maxParallel = opts.getOrElse("maxParallelRequests", "100").toInt
    if (opts.isStreaming) {
      pipeline.getParsedPings(kafkaStream(spark, opts, 100), opts.raiseOnError, measurement)
        .writeStream
        .option("checkpointLocation", opts.checkpointPath)
        .foreach(pipeline.getHttpSink(url, batchSize))
        .start()
        .awaitTermination()
    } else {
      val envelopeDir = opts.get("envelopeDir")
        .getOrElse(throw new IllegalArgumentException("--envelopeDir required in batch mode"))
      val base = new StreamingJobBase { override val JobName = jobName }
      base.datesBetween(opts.from.get, opts.to).foreach { date =>
        val pings = EnvelopeStore.read(spark, envelopeDir,
          submissionDate = Some(date), docTypes = Seq("crash"))
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
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("crashes_to_influx", args)
      runCrashJob(CrashesToInflux, "crashes_to_influx",
        new StreamingJobBase { override val JobName = "crashes_to_influx" }
          .buildSession("CrashesToInflux"), opts)
    }
  }

  object CrashesToOpenTsdbJob {
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("crashes_to_opentsdb", args)
      runCrashJob(CrashesToOpenTsdb, "crashes_to_opentsdb",
        new StreamingJobBase { override val JobName = "crashes_to_opentsdb" }
          .buildSession("CrashesToOpenTsdb"), opts)
    }
  }

  /** Uptake events → DogStatsD UDP (reference job #9). */
  object UptakeEventsToDatadogJob {
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("uptake_events_to_datadog", args)
      val spark = new StreamingJobBase { override val JobName = "uptake_events_to_datadog" }
        .buildSession("UptakeEventsToDatadog")
      val host = opts.getOrElse("statsdHost", "localhost")
      val port = opts.getOrElse("statsdPort", "8125").toInt
      UptakeEventsToDatadog.eventsToMetrics(kafkaStream(spark, opts, 100), opts.raiseOnError)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", opts.checkpointPath)
        .foreach(new graft.sinks.DogStatsDMetricSink(host, port))
        .start()
        .awaitTermination()
    }
  }

  /** Config-driven events → Amplitude (reference job #5). */
  object EventsToAmplitudeJob {
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("events_to_amplitude", args)
      val spark = new StreamingJobBase { override val JobName = "events_to_amplitude" }
        .buildSession("EventsToAmplitude")
      val apiKey = sys.env.getOrElse("AMPLITUDE_API_KEY",
        throw new IllegalArgumentException("AMPLITUDE_API_KEY not set"))
      run(spark, opts, apiKey)
      if (!opts.isStreaming) spark.stop()
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
        EventsToAmplitude.streamingEvents(config, kafkaStream(spark, opts, 1000),
          sample, opts.raiseOnError)
          .writeStream
          .option("checkpointLocation", opts.checkpointPath)
          .foreach(sinkFactory(apiKey, url))
          .start()
          .awaitTermination()
      } else {
        import org.apache.spark.sql.functions.col
        val envelopeDir = opts.get("envelopeDir")
          .getOrElse(throw new IllegalArgumentException("--envelopeDir required in batch mode"))
        val maxParallel = opts.getOrElse("maxParallelRequests", "100").toInt
        val minDelay = opts.getOrElse("minDelay", "0").toInt
        val base = new StreamingJobBase { override val JobName = "events_to_amplitude" }
        base.datesBetween(opts.from.get, opts.to).foreach { date =>
          // config filters fold into the pruned store scan
          val pings = EnvelopeStore.read(spark, envelopeDir,
            submissionDate = Some(date),
            docTypes = config.filters.getOrElse("docType", Nil),
            appNames = config.filters.getOrElse("appName", Nil))
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
    def main(args: Array[String]): Unit = {
      val opts = StreamingJobBase.parseOpts("federated_learning_search_optimizer", args)
      val spark = new StreamingJobBase { override val JobName = "federated_learning_search_optimizer" }
        .buildSession("FederatedLearningSearchOptimizer")
      val sink = new graft.learning.FederatedLearningSink(
        opts.getOrElse("modelOutputPath", "/tmp/frecency-model"),
        opts.getOrElse("stateCheckpointPath", "/tmp/frecency-state"),
        opts.get("stateBootstrapFilePath"))
      FrecencyAggregator.aggregate(
          kafkaStream(spark, opts, 100).toDF(),
          opts.getOrElse("modelBranch", "model1"),
          SystemClock,
          opts.getOrElse("windowOffsetMin", "28").toInt,
          opts.raiseOnError)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", opts.checkpointPath)
        .foreachBatch((ds: org.apache.spark.sql.Dataset[FrecencyUpdateAggregate], id: Long) =>
          sink.addBatch(ds, id))
        .start()
        .awaitTermination()
    }
  }
}
