package etlbench

import graft.streaming.StreamingJobBase
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload per JVM, launched by `run.py`.
  *
  *   etlbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> [--data <dir>] [--record-golden]
  *
  * Prints one JSON result as the last stdout line: end-to-end metrics
  * when untraced, per-layer metrics when traced.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Option[Path], recordGolden: Boolean) {
    val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  }

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) { kv(k) = argv(i + 1); i += 2 }
      else { kv(k) = "true"; i += 1 }
    }
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv.getOrElse("trace", "0") == "1",
      Paths.get(kv("work")).toAbsolutePath, kv.get("data").map(Paths.get(_).toAbsolutePath),
      kv.contains("record-golden"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val report = new Report
    Trace.enabled = args.trace
    val workload: Workload = args.workload match {
      case "stream_error_agg" => new StreamWorkload(args)
      case "batch_backfill"   => new BatchWorkload(args)
      case "query_slice"      => new QuerySliceWorkload(args)
      case other              => throw new IllegalArgumentException(s"unknown workload $other")
    }
    CorpusFiles.delete(args.work.resolve("run"))
    val spark = timed(report, "setup.session_s")(workload.session())
    spark.sparkContext.setLogLevel("WARN")
    try {
      Run(args, spark, workload, report)
    } finally {
      workload.close()
      spark.stop()
    }
    if (args.trace) Trace.write(args.work.resolve(s"trace-${args.workload}-${Trace.runId}.jsonl"))
    println(report.json(args.trace))
    if (!report.correct) sys.exit(1)
  }

  def timed[T](report: Report, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = Trace.span(name)(body)
    report.layer(name, (System.nanoTime() - t0) / 1e9, "s")
    out
  }

  /** Spark settings shared by every workload; the static ones arrive as
    * `-Dspark.*` system properties from the launcher.
    */
  def etlSession(args: Args, name: String): SparkSession =
    new StreamingJobBase { override val JobName: String = name }
      .buildSession(s"etlbench-$name", s"local[${args.cores}]")
}

/** One workload: how it builds its session and inputs, warms up, and
  * runs one timed pass (which checks its own outputs, untimed).
  */
trait Workload {
  def session(): SparkSession
  /** Makes the inputs ready; returns seconds spent generating a missing corpus. */
  def prepare(spark: SparkSession, report: Report): Double
  def warmup(spark: SparkSession, report: Report): Unit
  def pass(spark: SparkSession, report: Report, stats: Option[SparkStats]): Pass
  /** Per-layer metrics of this workload, from the traced passes. */
  def layers(spark: SparkSession, report: Report, traced: Seq[Pass], stats: SparkStats): Unit
  /** Units of work in one pass: envelopes, or queries. */
  def items: Double
  def itemName: String = "envelopes"
  def close(): Unit = ()
}

/** One timed pass: wall time, per-operation latencies, op outcomes. */
final case class Pass(startMs: Long, wallMs: Double, opsMs: Seq[Double], attempted: Long, failed: Long) {
  def endMs: Long = startMs + math.ceil(wallMs).toLong
}

/** Wall clock of one timed section: epoch start (for joining with
  * listener timestamps) and a monotonic duration.
  */
final class Clock {
  val startMs: Long = System.currentTimeMillis()
  private val t0 = System.nanoTime()
  def elapsedMs: Double = (System.nanoTime() - t0) / 1e6
}

/** Spark-job durations, the per-operation latency of the batch and
  * query workloads; the jobs of output checks are left out.
  */
final class JobTimes extends SparkListener {
  private val started = mutable.Map.empty[Int, Long]
  private val done = mutable.ArrayBuffer.empty[Double]
  @volatile private var lastEventNs = System.nanoTime()
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    if (!Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == Checks.Group))
      started(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    started.remove(e.jobId).foreach(s => done += (e.time - s).toDouble)
  }
  /** Durations of the jobs ended so far; first lets the asynchronous
    * listener bus catch up with the jobs the caller already waited for.
    */
  def take(): Seq[Double] = {
    val deadline = System.nanoTime() + 2000000000L
    while (System.nanoTime() < deadline &&
      (synchronized(started.nonEmpty) || System.nanoTime() - lastEventNs < 100000000L)) Thread.sleep(20)
    synchronized { val out = done.toVector; done.clear(); out }
  }
}

object Run {
  def apply(args: Main.Args, spark: SparkSession, w: Workload, report: Report): Unit = {
    val generateS = Main.timed(report, "setup.corpus_s")(w.prepare(spark, report))
    // generating a corpus that is not cached yet is not set-up work of
    // the program; it is reported apart and left out of setup.corpus_s
    report.layer("setup.corpus_s", report.layerValue("setup.corpus_s") - generateS, "s")
    report.note(f"corpus generation: $generateS%.2f s")
    Main.timed(report, "setup.warmup_s")(w.warmup(spark, report))
    val setupS = Seq("setup.session_s", "setup.corpus_s", "setup.warmup_s").map(report.layerValue).sum
    report.metric("setup_s", setupS, "s")

    val live = mutable.ArrayBuffer.empty[Stats.LiveMemory]
    var measuredMs = 0.0
    def runPass(stats: Option[SparkStats]): Pass = {
      spark.sparkContext.setLocalProperty(SparkStats.TracedProperty, if (stats.isDefined) "1" else null)
      Trace.enabled = stats.isDefined
      try {
        val p = Trace.span("pass")(w.pass(spark, report, stats))
        report.attempted += p.attempted
        report.failed += p.failed
        measuredMs += p.wallMs
        // untimed: what the program still holds once the pass is done;
        // every pass also starts from a collected heap
        live += Stats.liveMemory()
        p
      } finally {
        Trace.enabled = args.trace
        spark.sparkContext.setLocalProperty(SparkStats.TracedProperty, null)
      }
    }

    // at least two passes, so a median never rests on one sample. Only
    // the timed part of the passes counts against --seconds: with the
    // untimed checks and collections counted too, the number of passes,
    // and with it the share of the slower first pass in the median,
    // would vary from run to run.
    def timeLeft(done: Int): Boolean = done < 2 || measuredMs / 1000 < args.seconds

    if (!args.trace) {
      val ps = mutable.ArrayBuffer.empty[Pass]
      while (timeLeft(ps.size)) ps += runPass(None)
      val walls = ps.map(_.wallMs).toSeq
      report.metric("pass_s", Stats.median(walls) / 1000, "s")
      val peak = live.maxBy(_.totalMb)
      report.metric("live_mem_mb", peak.totalMb, "MB")
      report.note(s"live memory after each pass: ${live.map(m => f"${m.totalMb}%.1f").mkString(" ")} MB; largest: $peak")
      report.note(f"pass walls ${walls.map(w => f"${w / 1000}%.2f").mkString(" ")} s; " +
        f"${Stats.median(walls.map(w.items / _ * 1000))}%.1f ${w.itemName} per s")
    } else {
      // untraced and traced passes alternate; the difference of their
      // median pass times is the tracing overhead
      val stats = SparkStats.install(spark)
      runPass(None) // settles the pass path itself before the pairs start
      val plain = mutable.ArrayBuffer.empty[Pass]
      val traced = mutable.ArrayBuffer.empty[Pass]
      while (timeLeft(traced.size) || plain.size > traced.size) {
        if (plain.size > traced.size) traced += runPass(Some(stats)) else plain += runPass(None)
      }
      Stats.settle(stats)
      val plainMs = Stats.median(plain.map(_.wallMs).toSeq)
      val tracedMs = Stats.median(traced.map(_.wallMs).toSeq)
      report.layer("trace.overhead_ms", tracedMs - plainMs, "ms")
      report.layer("trace.overhead_pct", (tracedMs - plainMs) / plainMs * 100, "%")
      // per-operation latency from the untraced passes
      val ops = plain.flatMap(_.opsMs).toSeq
      val q = Stats.tailQuantile(plain.take(2).map(_.opsMs.size).sum)
      report.layer("ops.p50_ms", Stats.median(ops), "ms")
      report.layer("ops.tail_ms", Stats.quantile(ops, q), "ms")
      report.note(f"ops.tail_ms is p${q * 100}%.0f of ${ops.size} ops")
      val n = traced.size.toDouble
      report.layer("spark.jobs", stats.jobs.get / n, "count")
      report.layer("spark.stages", stats.stages.get / n, "count")
      report.layer("spark.tasks", stats.tasks.get / n, "count")
      report.layer("spark.shuffle_write_bytes", stats.shuffleWriteBytes.get / n, "B")
      report.layer("spark.gc_ms", stats.gcMs.get / n, "ms")
      report.layer("spark.driver_gap_ms", traced.map(p => stats.driverGapMs(p.startMs, p.endMs)).sum / n, "ms")
      report.layer("sources.files_read", stats.filesRead.get / n, "count")
      report.layer("sources.bytes_read", stats.bytesRead.get / n, "B")
      report.layer("streaming.decode_cpu_ms", stats.decodeCpuNs.get / 1e6 / n, "ms")
      report.layer("sinks.parquet_write_ms", stats.writeOnlyRunMs.get / n, "ms")
      w.layers(spark, report, traced.toSeq, stats)
      Layers.singleThread(args, report)
      SparkStats.remove(spark, stats)
      report.layer("ops_failed_ratio", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
      Trace.selfTimesMs.toSeq.sortBy(-_._2).take(8).foreach { case (name, ms) =>
        report.note(f"span self time $name: $ms%.1f ms")
      }
    }
  }
}

/** Result of one run: metrics, op counts, failed checks, notes. */
final class Report {
  private val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
  def layerValue(name: String): Double = perLayer.get(name).map(_._1).getOrElse(0.0)
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    errors += what
    System.err.println(s"[etlbench] CHECK FAILED: $what")
  }
  def note(s: String): Unit = println(s"[etlbench] $s")
  def correct: Boolean = errors.isEmpty

  def json(trace: Boolean): String = {
    val ms = if (trace) perLayer else endToEnd
    val body = ms.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {$body}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail quantile: the highest that leaves at least ten of `n`
    * samples above it (the maximum when there are ten or fewer). Taken
    * from the ops of two passes, the fewest a run makes, it is the same
    * quantile in every run of a workload.
    */
  def tailQuantile(n: Int): Double = if (n <= 10) 1.0 else (n - 11).toDouble / (n - 1)

  /** Memory this JVM still holds after a full collection: heap in use,
    * non-heap in use (metaspace, code cache) and NIO buffers. Unlike the
    * resident set it does not follow the heap size the launcher fixes.
    */
  def liveMemory(): LiveMemory = {
    // the first collection lets Spark's context cleaner see the pass's
    // unreachable shuffles and broadcasts; it frees their blocks
    // asynchronously, and the second collection reclaims them
    System.gc()
    Thread.sleep(500)
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum
    def mb(b: Long) = b / (1024.0 * 1024.0)
    LiveMemory(mb(mem.getHeapMemoryUsage.getUsed), mb(mem.getNonHeapMemoryUsage.getUsed), mb(buffers))
  }

  final case class LiveMemory(heapMb: Double, nonHeapMb: Double, buffersMb: Double) {
    def totalMb: Double = heapMb + nonHeapMb + buffersMb
    override def toString: String = f"heap $heapMb%.1f + non-heap $nonHeapMb%.1f + buffers $buffersMb%.1f MB"
  }

  /** Listener events arrive asynchronously: wait until they stop. */
  def settle(stats: SparkStats): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = stats.jobs.get + stats.stages.get + stats.tasks.get + stats.filesRead.get
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }
}
