package graft.streaming

import graft.Sessions
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

  /** Job session: [[graft.Sessions.job]]'s recipe (graceful shutdown,
    * dynamic partition overwrite — ErrorAggregatorBase.scala:202-208).
    *
    * `rocksDbState` (default: the `GRAFT_ROCKSDB_STATE` env var, so a
    * fleet can flip without code changes) swaps the streaming state
    * store to RocksDB, for state that outgrows executor heap (dedup
    * sets, session maps, join buffers).
    */
  def buildSession(
      appName: String,
      master: String = "local[*]",
      rocksDbState: Boolean = Sessions.rocksDbState(sys.env)): SparkSession =
    Sessions.job(appName, master, rocksDbState)
}

object StreamingJobBase {
  val DateFormat = "yyyyMMdd"
  val DateFormatter: DateTimeFormatter = DateTimeFormatter.ofPattern(DateFormat)
  val TelemetryKafkaTopic = "telemetry"

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
