package graft

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import org.apache.spark.sql.SparkSession

import scala.util.Try

/** The one place a SparkSession is configured. Two recipes cover every
  * entry point:
  *
  *  - [[queryPack]]: the analytics pack's session, shared by `Bench`
  *    (which times the plans), `Verify` (which dumps them for the DuckDB
  *    oracle), `Profile`, `PlanDump` and the tools. One conf list, so the
  *    oracle grades the plan the bench times.
  *  - [[job]]: the reference jobs' session (reference:
  *    StreamingJobBase.scala:18-107, ErrorAggregatorBase.scala:202-208),
  *    built through `StreamingJobBase.buildSession`.
  *
  * Confs left unset keep Spark's defaults (AQE on, 128 MB
  * `files.maxPartitionBytes`), so a cluster can still tune them with
  * `--conf`; a `.config()` here would override that. An A/B at sf1/sf10
  * (round 13) of 16 MB/1 MB split sizing against the small-file bench
  * corpora measured inside the ±20% same-day host swing (median 1.2×
  * slower at sf10), so the split defaults stand.
  *
  * Env (read as a `Map` so specs need no process env):
  * `SPARK_GRAFT_CPUS` (local cores, default: this JVM's available
  * processors), `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default: the cores)
  * and `GRAFT_ROCKSDB_STATE`. A malformed or non-positive number falls
  * back to its default instead of failing session start.
  */
object Sessions {

  /** `file:` without fork/exec, for both Hadoop APIs
    * ([[graft.sources.ForkFreeLocalFileSystem]]): FileSystem for scans
    * and writes, FileContext for Spark's streaming checkpoints. Without
    * libhadoop, Hadoop's own local filesystem starts a `chmod` per file
    * create and mkdir and two `readlink`s per FileContext rename: ~130
    * process starts per trigger of the error-aggregates stream, which
    * made up most of its state commit and driver-side log writes.
    * Same bytes, permission bits and file statuses.
    */
  val LocalFsConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Confs every session carries. */
  private val Base: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // Reference semantics are lenient/non-ANSI (SURVEY.md §7.3).
    "spark.sql.ansi.enabled" -> "false",
    // HotSpot never JIT-compiles methods over 8000 bytecodes
    // (DontCompileHugeMethods), so a generated whole-stage method past
    // that limit runs INTERPRETED forever — observed as sporadic 20×
    // stalls on the widest codegen stages (cube/rollup + decimal sums).
    // Below the limit Spark falls back to the still-compiled non-codegen
    // path: slightly slower best case, no interpreter cliff.
    "spark.sql.codegen.hugeMethodLimit" -> "8000") ++
    LocalFsConfs

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

  private def positive(env: Map[String, String], name: String): Option[Int] =
    env.get(name).flatMap(v => Try(v.trim.toInt).toOption).filter(_ > 0)

  /** Local cores for a query-pack session. */
  def cpus(env: Map[String, String]): Int =
    positive(env, "SPARK_GRAFT_CPUS").getOrElse(Runtime.getRuntime.availableProcessors)

  /** Shuffle partitions default to the core count (right for the sf0.1
    * graded sweep) but are overridable for scale-gate sweeps: at sf10 a
    * 32-partition shuffle hands each task ~30× the state of the graded
    * scale and the widest hash-agg/sort pages outgrow task memory
    * (observed: a 7.5 GB single-page allocation failure). More
    * partitions is the knob a real cluster would turn — AQE coalesces
    * any that turn out small, so oversizing is cheap.
    */
  def shufflePartitions(env: Map[String, String]): Int =
    positive(env, "SPARK_GRAFT_SHUFFLE_PARTITIONS").getOrElse(cpus(env))

  /** Strict truthy parse for env toggles: only 1/true/yes/on enable.
    * (`_ != "false"` would read `GRAFT_ROCKSDB_STATE=0` as ENABLED and
    * silently flip every job's state-store provider.)
    */
  def rocksDbState(env: Map[String, String]): Boolean =
    env.get("GRAFT_ROCKSDB_STATE").map(_.trim.toLowerCase)
      .exists(Set("1", "true", "yes", "on").contains)

  /** State-store confs: RocksDB provider + changelog checkpointing
    * (per-batch delta upload instead of full snapshots — the difference
    * between O(state) and O(churn) checkpoint cost when session/dedup
    * state reaches terabytes). The default HDFS-backed provider keeps
    * every key in executor heap; RocksDB spills to local disk and
    * bounds heap by block cache.
    */
  def rocksDbStateConfs(enabled: Boolean): Map[String, String] =
    if (!enabled) Map.empty
    else Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")

  /** The query-pack recipe's confs. */
  def queryPackConfs(env: Map[String, String]): Seq[(String, String)] = Base ++ Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions(env).toString,
    "spark.ui.enabled" -> "false",
    // events.parquet is TIMESTAMP(NANOS), readable only as longs.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Let the planner pick shuffled-hash join when its size conditions
    // hold instead of defaulting to sort-merge — hashing the smaller
    // per-partition side skips both sorts. Scale-neutral: the planner
    // still requires the build side to fit per-partition, and AQE
    // re-plans oversized partitions.
    "spark.sql.join.preferSortMergeJoin" -> "false")

  /** The job recipe's confs: graceful shutdown and dynamic partition
    * overwrite as in the reference, plus byte-sized envelope splits.
    */
  def jobConfs(rocksDbState: Boolean): Seq[(String, String)] =
    Seq(
      "spark.streaming.stopGracefullyOnShutdown" -> "true",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic") ++
    Base ++
    Seq("spark.sql.files.openCostInBytes" -> FileOpenCostBytes.toString) ++
    rocksDbStateConfs(rocksDbState)

  /** A query-pack session on `local[cpus]`, logging at WARN. */
  def queryPack(appName: String): SparkSession = {
    val spark = build(appName, s"local[${cpus(sys.env)}]", queryPackConfs(sys.env))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A reference-job session. */
  def job(appName: String, master: String, rocksDbState: Boolean): SparkSession =
    build(appName, master, jobConfs(rocksDbState))

  private def build(appName: String, master: String, confs: Seq[(String, String)]): SparkSession =
    confs.foldLeft(SparkSession.builder().appName(appName).master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
