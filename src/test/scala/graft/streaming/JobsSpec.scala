package graft.streaming

import graft.SparkTest
import graft.json.Json
import graft.monitoring.AccumulatorMetrics
import graft.pings.TestMessages
import graft.sinks.{DogStatsDMetricSink, HttpSink, RecordingTransport, StringHttpSink}
import graft.sources.EnvelopeStore
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite

import java.net.DatagramSocket
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import StreamingJobBase.JobOpts

class JobsSpec extends AnyFunSuite with SparkTest {

  test("envelope store round-trips with partition pruning") {
    val dir = Files.createTempDirectory("envstore").toString
    val envelopes = TestMessages.crashMessages(5) ++ TestMessages.mainMessages(5) ++
      TestMessages.eventMessages(3)
    EnvelopeStore.write(spark, envelopes, dir)

    val crashes = EnvelopeStore.read(spark, dir,
      submissionDate = Some("20170101"), docTypes = Seq("crash"))
    assert(crashes.count() == 5)
    // filters must prune partitions, not scan-and-filter
    val plan = crashes.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || crashes.queryExecution.optimizedPlan.toString.contains("doc_type"))
    val pruned = crashes.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(pruned.contains("doc_type"), "expected partition filter on doc_type")

    // decoded envelopes survive the round trip
    val env = graft.pings.Envelope.parseFrom(crashes.head().getAs[Array[Byte]](0))
    assert(env.fieldString("docType").contains("crash"))

    assert(EnvelopeStore.read(spark, dir, docTypes = Seq("event")).count() == 3)
    assert(EnvelopeStore.read(spark, dir, submissionDate = Some("19990101")).count() == 0)
  }

  test("a day's read lists only that day; a day with no directory reads as zero rows") {
    val dir = Files.createTempDirectory("envdays").toString
    EnvelopeStore.write(spark, TestMessages.crashMessages(2) ++
      TestMessages.crashMessages(3, Map("submissionDate" -> Json.str("20170102"))), dir)
    val day = EnvelopeStore.read(spark, dir, submissionDate = Some("20170101"))
    assert(day.count() == 2)
    // the relation's file index holds only the requested day's files
    assert(day.inputFiles.nonEmpty &&
      day.inputFiles.forall(_.contains("submission_date_s3=20170101/")), day.inputFiles.toSeq)
    assert(EnvelopeStore.read(spark, dir, submissionDate = Some("20170102"), docTypes = Seq("crash")).count() == 3)
    val noDay = EnvelopeStore.read(spark, dir, submissionDate = Some("19990101"), docTypes = Seq("crash"))
    assert(noDay.count() == 0 && noDay.columns.toSeq == Seq("value"))
    // a store root that does not exist is a misconfiguration, not an empty day
    intercept[AnalysisException](
      EnvelopeStore.read(spark, s"$dir/missing", submissionDate = Some("20170101")))
  }

  test("batch jobs read only their allow-listed partitions and emit the same rows") {
    import spark.implicits._
    val envDir = Files.createTempDirectory("envallow").toString
    val envelopes = TestMessages.crashMessages(4) ++ TestMessages.mainMessages(2) ++
      TestMessages.coreMessages(2) ++ TestMessages.eventMessages(3) ++
      // directories neither job may read: another doc type, another app
      TestMessages.mainMessages(2, Map("docType" -> Json.str("sync"))) ++
      TestMessages.mainMessages(2, Map("appName" -> Json.str("Chrome")))
    EnvelopeStore.write(spark, envelopes, envDir)
    val unpruned = spark.createDataset(envelopes.map(_.toBytes)).toDF("value")

    // (output path, partition filters of each scan under that write)
    val scans = new ConcurrentLinkedQueue[(String, String)]
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      // the write runs inside an adaptive plan: walk its query stages
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collect(qe.executedPlan) {
          case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, child) =>
            collect(child) { case scan: FileSourceScanExec => scan.partitionFilters.map(_.sql).mkString(" AND ") }
              .foreach(filters => scans.add(cmd.outputPath.toString -> filters))
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def check(jobName: String, prefix: String, run: JobOpts => Unit, expected: DataFrame,
              docTypes: Seq[String], appNames: Seq[String]): Unit = {
      val outDir = Files.createTempDirectory("allowout").toString
      run(StreamingJobBase.parseOpts(jobName, Array(
        "--from", "20170101", "--to", "20170101",
        "--envelopeDir", envDir, "--outputPath", outDir, "--numParquetFiles", "1")))
      val out = spark.read.parquet(s"$outDir/$prefix")
        .withColumn("submission_date_s3", col("submission_date_s3").cast("string"))
        .select(expected.columns.map(col): _*)
      val want = expected.collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty)
      assert(out.collect().map(_.toString).sorted.toSeq == want)
      // listener delivery is async relative to the write
      def filters = scans.asScala.collect { case (path, f) if path.endsWith(s"$outDir/$prefix") => f }.toSeq
      val deadline = System.nanoTime() + 10_000_000_000L
      while (filters.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(filters.size == 1, s"expected one envelope scan under the write, got $filters")
      val pruning = filters.head
      assert(pruning.contains("doc_type") && pruning.contains("app_name"), pruning)
      (docTypes ++ appNames).foreach(v => assert(pruning.contains(s"'$v'"), pruning))
    }

    spark.listenerManager.register(listener)
    try {
      check("error_aggregator", "error_aggregator/v2", Jobs.ErrorAggregatorJob.run(spark, _),
        ErrorAggregator.aggregate(unpruned), Seq("main", "crash", "core"), Seq("Firefox", "Fennec"))
      check("experiment_enrollments_aggregator", "experiment_enrollments/v1",
        Jobs.ExperimentEnrollmentsJob.run(spark, _),
        ExperimentEnrollmentsAggregator.aggregate(unpruned), Seq("main", "event"), Seq("Firefox"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("error aggregator batch job runs the per-day loop end to end") {
    val envDir = Files.createTempDirectory("envstore2").toString
    val outDir = Files.createTempDirectory("jobout").toString
    EnvelopeStore.write(spark, TestMessages.crashMessages(4) ++ TestMessages.mainMessages(2), envDir)
    val opts = StreamingJobBase.parseOpts("error_aggregator", Array(
      "--from", "20170101", "--to", "20170101",
      "--envelopeDir", envDir, "--outputPath", outDir,
      "--numParquetFiles", "2", "--raiseOnError"))
    Jobs.ErrorAggregatorJob.run(spark, opts)
    val out = spark.read.parquet(s"$outDir/error_aggregator/v2")
    assert(out.count() == 3) // experiment fan-out rows
    assert(out.columns.contains("submission_date_s3"))
    // the envelope Timestamp drives the partition value (2016-04-07)
    // partition values come back type-inferred (int) on read
    assert(out.select("submission_date_s3").distinct().collect()
      .map(_.get(0).toString).toSeq == Seq("20160407"))
  }

  test("kafka source option map carries the reference's consumer tuning") {
    val opts = StreamingJobBase.parseOpts("error_aggregator", Array(
      "--kafkaBroker", "broker-1:9092", "--startingOffsets", "earliest",
      "--failOnDataLoss"))
    val m = Jobs.kafkaSourceOptions(opts, consumerCacheCapacity = 1000)
    assert(m("kafka.bootstrap.servers") == "broker-1:9092")
    assert(m("kafka.max.partition.fetch.bytes") == (8 * 1024 * 1024).toString)
    assert(m("spark.streaming.kafka.consumer.cache.maxCapacity") == "1000")
    assert(m("subscribe") == StreamingJobBase.TelemetryKafkaTopic)
    assert(m("startingOffsets") == "earliest")
    assert(m("failOnDataLoss") == "true")
    // defaults: latest offsets, failOnDataLoss off
    val defaults = Jobs.kafkaSourceOptions(
      StreamingJobBase.parseOpts("x", Array("--kafkaBroker", "b:9092")), 100)
    assert(defaults("startingOffsets") == "latest")
    assert(defaults("failOnDataLoss") == "false")
    assert(defaults("spark.streaming.kafka.consumer.cache.maxCapacity") == "100")
  }

  test("error aggregator STREAMING job runs source→sink over graft-synth with checkpoint restart") {
    // The real job DAG — ErrorAggregator.aggregate → repartition(1) →
    // partitioned parquet + checkpoint — over the DSv2 synth source
    // (source-injected; the Kafka format needs a broker this environment
    // lacks). One crash ping per second of event time; 5-min windows,
    // 1-min watermark. The job is stopped mid-stream and restarted from
    // its checkpoint: closed windows must emit exactly once, and windows
    // spanning the restart must still aggregate to full counts.
    import spark.implicits._
    val outDir = Files.createTempDirectory("eagg-stream-out").toString
    val ckptDir = Files.createTempDirectory("eagg-stream-ckpt").toString
    // window-aligned base (multiple of 300 s) so window starts are exact
    val baseSec = 1460036400L
    val opts = StreamingJobBase.parseOpts("error_aggregator", Array(
      "--kafkaBroker", "unused:9092", // streaming mode; source injected below
      "--checkpointPath", ckptDir, "--outputPath", outDir, "--raiseOnError"))

    def pingStream(maxRows: Int) = spark.readStream.format("graft-synth")
      .option("rowsPerBatch", "150").option("maxRows", maxRows.toString)
      .load()
      .select($"offset").as[Long]
      .map(i => TestMessages.crashMessages(1,
        timestamp = (baseSec + i) * 1000000000L).head.toBytes)
      .toDF("value")

    def run(maxRows: Int): Unit = {
      val q = Jobs.ErrorAggregatorJob.startWithSource(opts, pingStream(maxRows))
      try q.processAllAvailable() finally q.stop()
    }
    run(450)  // watermark 389 s → only window [0, 300) closes; the
              // [300, 600) window is left mid-flight in checkpoint state
    val firstHalf = spark.read.parquet(s"$outDir/error_aggregator/v2")
    assert(firstHalf.select($"window_start").distinct().count() == 1,
      "first run should emit exactly the one closed window")
    run(1200) // resume AT 450 (mid-window): recovered state + new rows
              // must merge; watermark 1139 s → [300,600) and [600,900) close
    val out = spark.read.parquet(s"$outDir/error_aggregator/v2")
      .select($"window_start".cast("long").as("w"), $"experiment_id",
        $"main_crashes", $"count")
      .collect()
    // 3 closed windows × (2 experiments + null row), exactly once each
    assert(out.length == 9, s"expected 9 rows, got ${out.length}")
    val groups = out.map(r => (r.getLong(0), r.getAs[String]("experiment_id")))
    assert(groups.distinct.length == groups.length, "window re-emitted across restart")
    assert(groups.map(_._1).toSet ==
      Set(baseSec, baseSec + 300, baseSec + 600), s"wrong windows: ${groups.toSet}")
    // 300 pings per window — including the window spanning the restart
    // boundary (state recovered, second half added on top)
    out.foreach { r =>
      assert(r.getAs[Long]("main_crashes") == 300L, s"bad count: $r")
      assert(r.getAs[Long]("count") == 300L, s"bad count: $r")
    }
  }

  test("event-ping STREAMING job writes rows per process under date and doc_type partitions") {
    // The job's streaming branch (explode, partition columns from the
    // event timestamp, repartition(1), partitioned parquet + checkpoint)
    // over an injected source in place of Kafka.
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val outDir = Files.createTempDirectory("events-stream-out").toString
    val opts = StreamingJobBase.parseOpts("event_ping_events", Array(
      "--kafkaBroker", "unused:9092", // streaming mode; source injected below
      "--checkpointPath", Files.createTempDirectory("events-stream-ckpt").toString,
      "--outputPath", outDir))
    val input = MemoryStream[Array[Byte]]
    val q = Jobs.EventPingEventsJob.startWithSource(opts, input.toDF())
    try {
      val nextDay = TestMessages.TestTimestampNano + 86400L * 1000000000L
      input.addData((TestMessages.eventMessages(5) ++ TestMessages.crashMessages(2) ++
        TestMessages.eventMessages(2, timestamp = nextDay)).map(_.toBytes))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$outDir/events/v1")
    assert(out.columns.count(c => c == "submission_date_s3" || c == "doc_type") == 2)
    // each event ping carries 3 parent events and 1 dynamic event; the
    // crash pings are dropped
    val counts = out
      .groupBy($"submission_date_s3".cast("string"), $"doc_type", $"event_process").count()
      .as[(String, String, String, Long)].collect().toSet
    assert(counts == Set(
      ("20160407", "event", "parent", 15L), ("20160407", "event", "dynamic", 5L),
      ("20160408", "event", "parent", 6L), ("20160408", "event", "dynamic", 2L)), counts)
    // one file per partition directory per trigger: the stream is repartitioned to one writer
    val files = out.inputFiles.map(f => f.substring(0, f.lastIndexOf('/')))
    assert(files.length == 2 && files.distinct.length == 2, files.toSeq)
    assert(files.forall(_.contains("/doc_type=event")), files.toSeq)
  }

  test("opts parser enforces streaming xor batch") {
    intercept[IllegalArgumentException](StreamingJobBase.parseOpts("x", Array.empty))
    intercept[IllegalArgumentException](
      StreamingJobBase.parseOpts("x", Array("--kafkaBroker", "b:9092", "--from", "20170101")))
    val opts = StreamingJobBase.parseOpts("x", Array("--kafkaBroker", "b:9092", "--raiseOnError"))
    assert(opts.isStreaming && opts.raiseOnError)
    assert(opts.checkpointPath == "/tmp/checkpoints/x")
  }

  test("datesBetween expands inclusive ranges") {
    assert(StreamingJobBase.datesBetween("20170130", Some("20170202")) ==
      Seq("20170130", "20170131", "20170201", "20170202"))
  }

  test("DogStatsD UDP sink sends datagrams") {
    val receiver = new DatagramSocket()
    val port = receiver.getLocalPort
    receiver.setSoTimeout(5000)
    val sink = new DogStatsDMetricSink("127.0.0.1", port)
    sink.open(0L, 0L)
    sink.process(graft.monitoring.DogStatsDMetric.makeCounter("graft.test.count",
      kvTags = Some(Map("k" -> "v"))))
    sink.close(null)
    val buf = new java.net.DatagramPacket(new Array[Byte](512), 512)
    receiver.receive(buf)
    receiver.close()
    assert(new String(buf.getData, 0, buf.getLength) == "graft.test.count:1|c|#k:v")
  }

  test("testtube aggregate emits JSON rows with type rename and epoch-ms windows") {
    import spark.implicits._
    val df = spark.createDataset(TestMessages.eventMessages(3).map(_.toBytes)).toDF("value")
    val rows = ExperimentEnrollmentsToTestTube.sinkRows(df).collect()
    assert(rows.length == 1)
    val j = graft.json.Json.parse(rows.head)
    assert((j \ "type").asString.contains("preference_study"))
    assert((j \ "experiment_id").asString.contains("awesome-experiment"))
    assert((j \ "enroll_count").asLong.contains(3L))
    assert((j \ "unenroll_count").asLong.contains(0L))
    assert((j \ "graduate_count").asLong.contains(0L))
    assert((j \ "window_start").asLong.exists(_ <= TestMessages.TestTimestampMillis))
    assert(!rows.head.contains("\"object\""))
  }

  test("amplitude batch job: pruned store scan -> clientId partitions -> batched requests") {
    import graft.sinks.{AmplitudeHttpSink, HttpSink, StaticRecordingTransport}
    val envDir = Files.createTempDirectory("envamp").toString
    // focus events (match the config) + crash noise (pruned out by doc_type)
    EnvelopeStore.write(spark, TestMessages.focusEventMessages(4) ++ TestMessages.crashMessages(3), envDir)
    StaticRecordingTransport.drain()
    val configPath = Files.createTempFile("ampcfg", ".json")
    Files.write(configPath, getClass.getResourceAsStream("/amplitudeTestConfig.json").readAllBytes())
    val opts = StreamingJobBase.parseOpts("events_to_amplitude", Array(
      "--from", "20170101", "--to", "20170101",
      "--envelopeDir", envDir, "--configFilePath", configPath.toString,
      "--url", "http://example.test/batch", "--maxParallelRequests", "2", "--raiseOnError"))
    Jobs.EventsToAmplitudeJob.run(spark, opts, "TESTKEY",
      sinkFactory = (key, url) => AmplitudeHttpSink(key, url,
        HttpSink.Config(transport = new StaticRecordingTransport(Seq(200)), sleeper = _ => ())))
    // 4 focus pings x 3 matched events, flattened into /batch requests
    val requests = StaticRecordingTransport.drain()
    assert(requests.nonEmpty)
    val bodies = requests.map(_.body.get).mkString
    assert(bodies.contains("\"api_key\":\"TESTKEY\""))
    assert(bodies.sliding("m_foc - AppOpen".length).count(_ == "m_foc - AppOpen") == 4)
  }

  test("accumulator metrics report overflow-safe deltas from sink outcomes") {
    val metrics = new AccumulatorMetrics(spark, "HttpSink", pollPeriodMillis = 60000L)
    val hook = AccumulatorMetrics.httpSinkHook(metrics)
    val transport = new RecordingTransport(Seq(503, 200))
    val sink = new StringHttpSink("http://example.test/x",
      HttpSink.Config(transport = transport, sleeper = _ => (), onOutcome = hook))
    sink.process("payload")
    val first = metrics.poll()
    assert(first("retry") == 1L && first("success") == 1L && first("error") == 0L)
    // second poll with no traffic reports zero deltas
    assert(metrics.poll().values.forall(_ == 0L))
  }
}
