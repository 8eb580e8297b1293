package graft.streaming

import graft.Sessions
import graft.pings.Meta
import org.apache.spark.sql.SparkSession

import java.time.temporal.ChronoUnit
import java.time.{LocalDate, ZoneOffset}

/** A named job with the job session (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/StreamingJobBase.scala:18-107).
  * The job mains in [[Jobs]] build their sessions through the companion.
  */
abstract class StreamingJobBase extends Serializable {

  val JobName: String

  def buildSession(appName: String, master: String = "local[*]"): SparkSession =
    StreamingJobBase.buildSession(appName, master)
}

/** Shared job scaffolding: CLI options, date-range expansion, session
  * construction. Option parsing is hand-rolled `--key value` (no CLI
  * library resolves in this environment — SURVEY.md §7.1).
  */
object StreamingJobBase {
  val TelemetryKafkaTopic = "telemetry"

  /** Job session: [[graft.Sessions.job]]'s recipe (graceful shutdown,
    * dynamic partition overwrite — ErrorAggregatorBase.scala:202-208).
    *
    * The `GRAFT_ROCKSDB_STATE` env var (so a fleet can flip without
    * code changes) swaps the streaming state store to RocksDB, for state
    * that outgrows executor heap (dedup sets, session maps, join buffers).
    */
  def buildSession(appName: String, master: String = "local[*]"): SparkSession =
    Sessions.job(appName, master, Sessions.rocksDbState(sys.env))

  /** Dates `from`..`to` inclusive as yyyyMMdd strings; `to` defaults to
    * yesterday, UTC (reference: StreamingJobBase.scala:45-54).
    */
  def datesBetween(from: String, to: Option[String]): Seq[String] = {
    val parsedFrom = LocalDate.parse(from, Meta.DateFormatter)
    val parsedTo = to match {
      case Some(t) => LocalDate.parse(t, Meta.DateFormatter)
      case None    => LocalDate.now(ZoneOffset.UTC).minusDays(1)
    }
    (0L to ChronoUnit.DAYS.between(parsedFrom, parsedTo)).map { offset =>
      parsedFrom.plusDays(offset).format(Meta.DateFormatter)
    }
  }

  /** `--key value` / `--flag` parser with the reference's base options
    * (kafkaBroker, startingOffsets, checkpointPath, from, to).
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
