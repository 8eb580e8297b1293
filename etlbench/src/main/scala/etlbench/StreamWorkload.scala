package etlbench

import graft.streaming.ErrorAggregator
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `stream_error_agg`: a closed-loop drain of a backlog of envelope
  * files through the error-aggregates streaming job, wired as `Jobs`
  * wires it: `ErrorAggregator.aggregate` → `repartition(1)` → parquet
  * partitioned by `submission_date_s3`, with a checkpoint. A trigger
  * reads a fixed number of files, one task each, so decode runs on
  * every core. Each pass drains the whole backlog into a fresh
  * checkpoint and checks the closed windows against the generator.
  */
final class StreamWorkload(args: Main.Args) extends Workload {
  private val layout = Corpus.Layout("stream", args.seed, size = 24000, files = 48, filesPerTrigger = 4)
  private val WarmupTriggers = 2
  private val envelopeSchema = StructType(Seq(StructField("value", BinaryType)))
  private lazy val expected = Corpus.expectStream(layout, Corpus.specs(layout))
  private val corpusDir = args.work.resolve("corpus").resolve(layout.key)
  private val runDir = args.work.resolve("run")
  private var passNo = 0
  private val progress = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]

  def items: Double = layout.size

  def session(): SparkSession = Main.etlSession(args, "stream_error_agg")

  def prepare(spark: SparkSession, report: Report): Double = {
    val t0 = System.nanoTime()
    val generated = CorpusFiles.ensure(spark, layout, corpusDir)
    val genS = if (generated) (System.nanoTime() - t0) / 1e9 else 0.0
    // the warm-up backlog: links to the first files
    val warm = runDir.resolve("warm-input")
    Files.createDirectories(warm)
    CorpusFiles.files(corpusDir).take(WarmupTriggers * layout.filesPerTrigger).foreach { f =>
      val link = warm.resolve(f.getFileName)
      Files.createLink(link, f)
      Files.setLastModifiedTime(link, Files.getLastModifiedTime(f))
    }
    report.note(s"stream corpus: ${layout.size} envelopes in ${layout.triggers} triggers of ${layout.filesPerTrigger} files, " +
      s"${expected.windows.size} closed windows, ${expected.dropped} late envelopes dropped")
    genS
  }

  def warmup(spark: SparkSession, report: Report): Unit = {
    val (q, _) = drain(spark, runDir.resolve("warm-input"), runDir.resolve("warm"))
    report.check(q.exception.isEmpty, s"warm-up stream failed: ${q.exception}")
  }

  private def drain(spark: SparkSession, input: Path, dir: Path) = {
    val source = spark.readStream.schema(envelopeSchema)
      .option("maxFilesPerTrigger", layout.filesPerTrigger).parquet(input.toString)
    val clock = new Clock
    val q = Trace.span("streaming.drain") {
      val q = ErrorAggregator.aggregate(source)
        .repartition(1)
        .writeStream
        .queryName(s"error_aggregator_${dir.getFileName}")
        .format("parquet")
        .option("path", dir.resolve("out").toString)
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .partitionBy("submission_date_s3")
        .start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    (q, clock)
  }

  def pass(spark: SparkSession, report: Report, stats: Option[SparkStats]): Pass = {
    passNo += 1
    val dir = runDir.resolve(s"pass-$passNo")
    val (q, clock) = drain(spark, corpusDir.resolve("input"), dir)
    val wallMs = clock.elapsedMs
    val ps = q.recentProgress.toSeq
    if (stats.isDefined) progress ++= ps
    val failed = if (q.exception.isDefined) 1L else 0L
    report.check(failed == 0, s"stream pass $passNo failed: ${q.exception}")
    if (failed == 0) Checks(spark)(check(spark, report, dir))
    CorpusFiles.delete(dir)
    Pass(clock.startMs, wallMs, ps.map(_.durationMs.get("triggerExecution").toDouble), ps.size.toLong, failed)
  }

  private def check(spark: SparkSession, report: Report, dir: Path): Unit = {
    val got = spark.read.parquet(dir.resolve("out").toString)
      .groupBy(col("window_start"))
      .agg(sum("count"), sum("main_crashes"), sum("content_crashes"))
      .collect()
      .map { r =>
        def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
        r.getTimestamp(0).getTime -> Corpus.WindowSums(l(1), l(2), l(3))
      }.toMap
    report.check(got == expected.windows,
      s"stream windows differ: expected ${expected.windows.toSeq.sortBy(_._1)}, got ${got.toSeq.sortBy(_._1)}")
  }

  def layers(spark: SparkSession, report: Report, traced: Seq[Pass], stats: SparkStats): Unit = {
    val n = traced.size.toDouble
    def dur(key: String) = Stats.median(progress.toSeq.map(_.durationMs.asScala.get(key).map(_.toDouble).getOrElse(0.0)))
    report.layer("trigger.latest_offset_ms", dur("latestOffset"), "ms")
    report.layer("trigger.query_planning_ms", dur("queryPlanning"), "ms")
    report.layer("trigger.add_batch_ms", dur("addBatch"), "ms")
    report.layer("trigger.wal_commit_ms", dur("walCommit"), "ms")
    report.layer("trigger.commit_offsets_ms", dur("commitOffsets"), "ms")
    val ops = progress.toSeq.flatMap(_.stateOperators.headOption)
    report.layer("state.rows_total", ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count")
    report.layer("state.mem_bytes", ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "B")
    report.layer("state.commit_ms", ops.map(_.commitTimeMs.toDouble).sum / n, "ms")
    report.layer("state.rows_dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark.toDouble).sum / n, "count")
    val rowsOut = stats.watermarkRows.get / n
    report.layer("streaming.rows_out", rowsOut, "count")
    if (rowsOut != expected.rowsOut)
      report.note(s"streaming.rows_out $rowsOut per pass, generator expects ${expected.rowsOut}")
    report.layer("sources.floor_env_per_s",
      CorpusFiles.floor(items, spark.read.schema(envelopeSchema).parquet(corpusDir.resolve("input").toString)), "1/s")
    Batch.zeroSinks(report)
    QuerySlice.zeroQueries(report)
  }
}
