package etlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.operators.stateful.EventTimeWatermarkExec

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Passive tracing from the benchmark's side of each layer boundary.
  *
  * Spans wrap the benchmark's calls into `json`, `pings`, `streaming`,
  * `sources`, `sinks` and `queries`; they share one run id, stay in
  * memory, and are written out as JSON lines when the run ends. The
  * Spark listeners only observe: they never change a plan or a conf.
  * Untraced runs install nothing and record no span.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  @volatile var enabled: Boolean = false
  val runId: String = java.util.UUID.randomUUID().toString

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Span time minus the part its child spans cover, per span name. */
  def selfTimesMs: Map[String, Double] = synchronized {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def write(path: Path): Unit = synchronized {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Job, stage and task counters, plus SQL metrics of each finished
  * execution's plan, from one passive `SparkListener`. Only jobs started
  * inside a traced pass count (the [[SparkStats.TracedProperty]] local
  * property), never the benchmark's own output checks; job intervals
  * give the Spark driver's idle gaps.
  */
final class SparkStats extends SparkListener with AdaptiveSparkPlanHelper {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val gcMs = new AtomicLong
  /** Size of the input files scans read (their SQL metric). */
  val bytesRead = new AtomicLong
  /** Executor CPU of tasks that read input files: scan + decode stages. */
  val decodeCpuNs = new AtomicLong
  /** Run time of tasks that write output without reading input files. */
  val writeOnlyRunMs = new AtomicLong
  val filesRead = new AtomicLong
  /** Rows reaching the event-time watermark: the decoded, fanned-out rows. */
  val watermarkRows = new AtomicLong

  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val countedStages = mutable.Set.empty[Int]
  private val countedExecutions = mutable.Set.empty[Long]
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val groupJobs = mutable.Map.empty[String, Long]
  val groupShuffleBytes = mutable.Map.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id")
    if (prop(SparkStats.TracedProperty).contains("1") && !group.contains(Checks.Group)) {
      jobs.incrementAndGet()
      jobStartMs(e.jobId) = e.time
      countedStages ++= e.stageIds
      prop("spark.sql.execution.id").foreach(countedExecutions += _.toLong)
      group.foreach { g =>
        groupJobs(g) = groupJobs.getOrElse(g, 0L) + 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  private def counted(stageId: Int): Boolean = synchronized(countedStages.contains(stageId))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (counted(e.stageInfo.stageId)) {
    stages.incrementAndGet()
    tasks.addAndGet(e.stageInfo.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).filter(_ => counted(e.stageId)).foreach { m =>
    val shuffle = m.shuffleWriteMetrics.bytesWritten
    shuffleWriteBytes.addAndGet(shuffle)
    gcMs.addAndGet(m.jvmGCTime)
    if (m.inputMetrics.bytesRead > 0) decodeCpuNs.addAndGet(m.executorCpuTime)
    else if (m.outputMetrics.bytesWritten > 0) writeOnlyRunMs.addAndGet(m.executorRunTime)
    synchronized {
      stageGroup.get(e.stageId).foreach(g => groupShuffleBytes(g) = groupShuffleBytes.getOrElse(g, 0L) + shuffle)
    }
  }

  /** Every SQL execution, batch or micro-batch, ends with this event;
    * the finished `QueryExecution` rides on it (a field Spark keeps
    * package-private, hence the reflective read).
    */
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
        if synchronized(countedExecutions.contains(e.executionId)) => executionOf(e).foreach(observe)
    case _ => ()
  }

  private def executionOf(e: AnyRef): Option[QueryExecution] =
    try Option(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
    catch { case _: ReflectiveOperationException => None }

  private def observe(qe: QueryExecution): Unit = foreach(qe.executedPlan) { node =>
    node match {
      case w: EventTimeWatermarkExec => watermarkRows.addAndGet(w.eventTimeStats.value.count)
      case _ => ()
    }
    node.metrics.get("numFiles").foreach(m => filesRead.addAndGet(m.value))
    node.metrics.get("filesSize").foreach(m => bytesRead.addAndGet(m.value))
  }

  /** Wall time inside [from, to] during which no counted Spark job ran. */
  def driverGapMs(fromMs: Long, toMs: Long): Long = synchronized {
    var covered = 0L
    var end = fromMs
    intervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    (toMs - fromMs) - covered
  }
}

/** Output checks run their Spark jobs under this job group. */
object Checks {
  val Group = "etlbench-check"

  def apply[T](spark: SparkSession)(body: => T): T = {
    spark.sparkContext.setJobGroup(Group, "output check")
    try body finally spark.sparkContext.clearJobGroup()
  }
}

object SparkStats {
  /** Local property that marks the jobs of a traced pass. */
  val TracedProperty = "etlbench.traced"

  def install(spark: SparkSession): SparkStats = {
    val s = new SparkStats
    spark.sparkContext.addSparkListener(s)
    s
  }
  def remove(spark: SparkSession, s: SparkStats): Unit = {
    spark.sparkContext.removeSparkListener(s)
  }
}
