package graft.streaming

import org.apache.spark.sql.SparkSession

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import java.time.{Clock, Instant, LocalDate, ZoneOffset}

/** Shared job scaffolding: CLI options, date-range expansion, date
  * formatting, session construction (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/StreamingJobBase.scala:18-107).
  * Option parsing is hand-rolled `--key value` (no CLI library resolves
  * in this environment — SURVEY.md §7.1).
  */
abstract class StreamingJobBase extends Serializable {

  val QueryName: String = "main_query"
  val JobName: String
  val outputPrefix: String = ""
  val clock: Clock = Clock.systemUTC()

  /** Dates `from`..`to` inclusive as yyyyMMdd strings; `to` defaults to
    * yesterday (reference: StreamingJobBase.scala:45-54).
    */
  def datesBetween(from: String, to: Option[String]): Seq[String] = {
    val parsedFrom = LocalDate.parse(from, StreamingJobBase.DateFormatter)
    val parsedTo = to match {
      case Some(t) => LocalDate.parse(t, StreamingJobBase.DateFormatter)
      case None    => LocalDate.now(clock).minusDays(1)
    }
    (0L to ChronoUnit.DAYS.between(parsedFrom, parsedTo)).map { offset =>
      parsedFrom.plusDays(offset).format(StreamingJobBase.DateFormatter)
    }
  }

  def timestampToDateString(ts: Timestamp): String =
    Instant.ofEpochMilli(ts.getTime).atZone(ZoneOffset.UTC)
      .toLocalDate.format(StreamingJobBase.DateFormatter)

  /** Job session with the reference's operational confs
    * (graceful shutdown, dynamic partition overwrite —
    * ErrorAggregatorBase.scala:202-208).
    *
    * `rocksDbState` (default: the `GRAFT_ROCKSDB_STATE` env var, so a
    * fleet can flip without code changes) swaps the streaming state
    * store to RocksDB. The default HDFS-backed provider keeps every
    * key in executor heap — fine for the reference's small windowed
    * aggregates, a hard wall for 100 TB-scale state (dedup sets,
    * session maps, join buffers). RocksDB spills to local disk, bounds
    * heap by block cache, and with changelog checkpointing uploads
    * per-batch deltas instead of full snapshots.
    */
  def buildSession(
      appName: String,
      master: String = "local[*]",
      rocksDbState: Boolean = StreamingJobBase.envFlag("GRAFT_ROCKSDB_STATE")): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.streaming.stopGracefullyOnShutdown", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // generated whole-stage methods past ~8000 bytecodes never JIT
      // (HotSpot DontCompileHugeMethods) and run interpreted — fall back
      // to the non-codegen path instead of hitting that cliff
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.files.openCostInBytes", StreamingJobBase.FileOpenCostBytes.toString)
    StreamingJobBase.rocksDbStateConfs(rocksDbState)
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
  }
}

object StreamingJobBase {
  val DateFormat = "yyyyMMdd"
  val DateFormatter: DateTimeFormatter = DateTimeFormatter.ofPattern(DateFormat)
  val TelemetryKafkaTopic = "telemetry"

  /** What opening one file is worth in scan splitting, in bytes of
    * input. Spark packs files into splits of at most
    * `max(openCost, (bytes + files × openCost) / cores)`, largest first;
    * its 4 MB default is tuned for scans whose per-row cost is small.
    * Envelope scans are decode-bound instead: ~60 µs of closure per
    * envelope at ~230 B of snappy parquet each, so a file open costs
    * what decoding a few KB does. At 4 MB a 40-file day packs into one
    * ~41 MB split, and its four ~0.8 MB main-ping files all land in one
    * task that decodes 82% of the day while the other cores idle; at
    * 8 KB each large file gets its own split and the small ones share
    * one. Files that are already one-per-task (the streaming file
    * source's ~115 KB trigger files) stay one-per-task.
    */
  val FileOpenCostBytes: Long = 8L * 1024

  /** Strict truthy parse for env toggles: only 1/true/yes/on enable.
    * (`_ != "false"` would read `GRAFT_ROCKSDB_STATE=0` as ENABLED and
    * silently flip every job's state-store provider.)
    */
  private[graft] def envFlag(name: String): Boolean =
    sys.env.get(name).map(_.trim.toLowerCase)
      .exists(Set("1", "true", "yes", "on").contains)

  /** State-store confs for [[StreamingJobBase.buildSession]]: RocksDB
    * provider + changelog checkpointing (per-batch delta upload instead
    * of full snapshots — the difference between O(state) and O(churn)
    * checkpoint cost when session/dedup state reaches terabytes).
    */
  def rocksDbStateConfs(enabled: Boolean): Map[String, String] =
    if (!enabled) Map.empty
    else Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")

  /** `--key value` / `--flag` parser with the reference's base options
    * (kafkaBroker, startingOffsets, checkpointPath, from, to, fileLimit).
    * Streaming vs batch mode = exactly one of kafkaBroker | from
    * (reference: BaseOpts requireOne, StreamingJobBase.scala:63-92).
    */
  final case class JobOpts(jobName: String, values: Map[String, String]) {
    def get(name: String): Option[String] = values.get(name)
    def getOrElse(name: String, default: String): String = values.getOrElse(name, default)
    def flag(name: String): Boolean = values.get(name).forall(_ != "false") && values.contains(name)

    def kafkaBroker: Option[String] = get("kafkaBroker")
    def startingOffsets: String = getOrElse("startingOffsets", "latest")
    def checkpointPath: String = getOrElse("checkpointPath", s"/tmp/checkpoints/$jobName")
    def from: Option[String] = get("from")
    def to: Option[String] = get("to")
    def fileLimit: Option[Int] = get("fileLimit").map(_.toInt)
    def raiseOnError: Boolean = flag("raiseOnError")
    def numParquetFiles: Int = getOrElse("numParquetFiles", "60").toInt

    def isStreaming: Boolean = kafkaBroker.isDefined
  }

  def parseOpts(jobName: String, args: Array[String]): JobOpts = {
    val pairs = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val arg = args(i)
      require(arg.startsWith("--"), s"unexpected argument $arg")
      val key = arg.stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        pairs(key) = args(i + 1); i += 2
      } else {
        pairs(key) = "true"; i += 1
      }
    }
    val opts = JobOpts(jobName, pairs.toMap)
    require(opts.kafkaBroker.isDefined ^ opts.from.isDefined,
      "exactly one of --kafkaBroker (streaming) or --from (batch) is required")
    opts
  }
}
