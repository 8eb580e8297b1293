package etlbench

import graft.sources.EnvelopeStore
import graft.streaming.{CrashesToInflux, Jobs, StreamingJobBase}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.{SaveMode, SparkSession}

import java.nio.file.Path

/** `batch_backfill`: one day of a mixed-doctype `EnvelopeStore` through
  * the daily batch loop of four jobs, each over its pruned store read:
  * error aggregates, event explode and enrollment aggregates to parquet,
  * and crash pings to Influx lines over HTTP to an in-process stub. All
  * four run through the `Jobs` batch entry points themselves.
  */
final class BatchWorkload(args: Main.Args) extends Workload {
  private val layout = Corpus.Layout("batch", args.seed, size = 20000, files = 1)
  private lazy val specs = Corpus.specs(layout)
  private lazy val expected = Corpus.expectBatch(specs)
  private lazy val day = specs.head.submissionDate
  private val storeDir = args.work.resolve("corpus").resolve(layout.key)
  private val runDir = args.work.resolve("run")
  private val jobTimes = new JobTimes
  private var stub: HttpStub = _
  private var passNo = 0
  private var tracedHttpPosts = 0L
  private var tracedHttpBytes = 0L
  private val tracedPostMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Rows after decode and fan-out in the last checked pass, over the four jobs. */
  private var rowsOut = 0L

  def items: Double = layout.size

  def session(): SparkSession = Main.etlSession(args, "batch_backfill")

  def prepare(spark: SparkSession, report: Report): Double = {
    stub = new HttpStub
    spark.sparkContext.addSparkListener(jobTimes)
    val t0 = System.nanoTime()
    val generated = !CorpusFiles.cached(storeDir)
    if (generated) {
      CorpusFiles.delete(storeDir)
      val store = storeDir.resolve("store").toString
      val (malformed, wellFormed) = specs.partition(_.flaw == Corpus.Malformed)
      Trace.span("sources.generate") {
        EnvelopeStore.write(spark, wellFormed.map(Corpus.envelope), store, SaveMode.Overwrite)
        // undecodable bytes cannot come from an Envelope: append them
        // to the same partitioned layout directly
        import spark.implicits._
        malformed.map(sp => (sp.submissionDate, sp.docType, sp.appName, Corpus.bytes(sp)))
          .toDF(EnvelopeStore.PartitionColumns :+ "value": _*)
          .write.mode(SaveMode.Append).partitionBy(EnvelopeStore.PartitionColumns: _*).parquet(store)
      }
      CorpusFiles.markDone(storeDir)
    }
    report.note(s"batch day $day: ${layout.size} envelopes, ${expected.influxLines.size} crash lines, " +
      s"${expected.eventRows} event rows")
    if (generated) (System.nanoTime() - t0) / 1e9 else 0.0
  }

  /** Two checked passes: the JIT is still speeding the loop up after one. */
  def warmup(spark: SparkSession, report: Report): Unit = {
    pass(spark, report, None)
    pass(spark, report, None)
    jobTimes.take()
  }

  private def opts(job: String, out: Path, extra: String*) = StreamingJobBase.parseOpts(job, Array(
    "--from", day, "--to", day,
    "--envelopeDir", storeDir.resolve("store").toString,
    "--outputPath", out.toString,
    "--numParquetFiles", args.cores.toString) ++ extra)

  def pass(spark: SparkSession, report: Report, stats: Option[SparkStats]): Pass = {
    passNo += 1
    val out = runDir.resolve(s"pass-$passNo")
    jobTimes.take()
    stub.takePostMs()
    val (postsBefore, bytesBefore) = (stub.posts, stub.bytes)
    val clock = new Clock
    Trace.span("streaming.error_aggregator")(Jobs.ErrorAggregatorJob.run(spark, opts("error_aggregator", out)))
    Trace.span("streaming.event_ping_events")(Jobs.EventPingEventsJob.run(spark, opts("event_ping_events", out)))
    Trace.span("streaming.experiment_enrollments")(
      Jobs.ExperimentEnrollmentsJob.run(spark, opts("experiment_enrollments_aggregator", out)))
    Trace.span("sinks.crashes_to_influx")(Jobs.runCrashJob(CrashesToInflux, "crashes_to_influx", spark,
      opts("crashes_to_influx", out, "--url", stub.url, "--measurementName", Batch.InfluxMeasurement,
        "--httpBatchSize", Batch.HttpBatchSize.toString, "--maxParallelRequests", args.cores.toString)))
    val wallMs = clock.elapsedMs
    val posts = stub.posts - postsBefore
    if (stats.isDefined) {
      tracedHttpPosts += posts
      tracedHttpBytes += stub.bytes - bytesBefore
      tracedPostMs ++= stub.takePostMs()
    }
    // a post the sink gives up on is not an error it raises: the
    // influx-lines check finds its lines missing and fails the run
    Checks(spark)(check(spark, report, out))
    CorpusFiles.delete(out)
    Pass(clock.startMs, wallMs, jobTimes.take(), 4 + posts, 0)
  }

  private def check(spark: SparkSession, report: Report, out: Path): Unit = {
    val windows = spark.read.parquet(out.resolve("error_aggregator/v2").toString)
      .groupBy(col("window_start")).agg(sum("count"), sum("main_crashes"), sum("content_crashes"))
      .collect().map { r =>
        def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
        r.getTimestamp(0).getTime -> Corpus.WindowSums(l(1), l(2), l(3))
      }.toMap
    report.check(windows == expected.windows, s"batch error aggregate windows differ (${windows.size} vs ${expected.windows.size})")
    val events = spark.read.parquet(out.resolve(s"events/v1/submission_date_s3=$day/doc_type=event").toString)
      .groupBy("event_process").agg(count(lit(1))).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    report.check(events == expected.eventRowsByProcess.filter(_._2 > 0),
      s"event rows differ: expected ${expected.eventRowsByProcess}, got $events")
    val enroll = spark.read.parquet(out.resolve("experiment_enrollments/v1").toString)
      .agg(sum("enroll_count"), sum("unenroll_count")).collect().head
    report.check(enroll.getLong(0) == expected.enrolls && enroll.getLong(1) == expected.unenrolls,
      s"enrollments differ: expected ${expected.enrolls}/${expected.unenrolls}, got ${enroll.getLong(0)}/${enroll.getLong(1)}")
    val lines = stub.takeLines()
    rowsOut = windows.values.map(_.count).sum + events.values.sum + enroll.getLong(0) + enroll.getLong(1) + lines.size
    report.check(lines.sorted == expected.influxLines.sorted,
      s"influx lines differ: expected ${expected.influxLines.size}, got ${lines.size}")
  }

  def layers(spark: SparkSession, report: Report, traced: Seq[Pass], stats: SparkStats): Unit = {
    val n = traced.size.toDouble
    report.layer("streaming.rows_out", rowsOut.toDouble, "count")
    report.layer("sinks.http_posts", tracedHttpPosts.toDouble / n, "count")
    report.layer("sinks.http_bytes", tracedHttpBytes / n, "B")
    report.layer("sinks.http_post_p50_ms", Stats.median(tracedPostMs.toSeq), "ms")
    report.layer("sources.floor_env_per_s", CorpusFiles.floor(items,
      EnvelopeStore.read(spark, storeDir.resolve("store").toString, submissionDate = Some(day))), "1/s")
    Batch.zeroStream(report)
    QuerySlice.zeroQueries(report)
  }

  override def close(): Unit = if (stub != null) stub.close()
}

object Batch {
  val InfluxMeasurement = "firefox_crashes"
  /** Lines per POST; the Influx sink batches them newline-joined. */
  val HttpBatchSize = 50

  def zeroSinks(report: Report): Unit = {
    report.layer("sinks.http_posts", 0, "count")
    report.layer("sinks.http_bytes", 0, "B")
    report.layer("sinks.http_post_p50_ms", 0, "ms")
  }

  def zeroStream(report: Report): Unit = {
    Seq("latest_offset", "query_planning", "add_batch", "wal_commit", "commit_offsets")
      .foreach(k => report.layer(s"trigger.${k}_ms", 0, "ms"))
    report.layer("state.rows_total", 0, "count")
    report.layer("state.mem_bytes", 0, "B")
    report.layer("state.commit_ms", 0, "ms")
    report.layer("state.rows_dropped_by_watermark", 0, "count")
  }
}
