package etlbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

/** `query_slice`: a fixed subset of `SparkEntry.queries`, one query per
  * operator family, over the sf0.1 tables. The warm-up collects every
  * result and checks its row count and order-insensitive hash against
  * the golden file; timed passes run each query into the no-op sink, as
  * `graft.Bench` does.
  */
final class QuerySliceWorkload(args: Main.Args) extends Workload {
  private val dataDir = args.data.getOrElse(throw new IllegalArgumentException("--data is required")).toString
  private val goldenPath = args.work.getParent.resolve("golden").resolve("query_slice.json")
  private val jobTimes = new JobTimes
  private val perQueryMs = scala.collection.mutable.Map.empty[String, Vector[Double]]
  private var golden: Map[String, (Long, String)] = Map.empty

  def items: Double = QuerySlice.Queries.size
  override def itemName: String = "queries"

  /** The session `graft.Bench` times the pack with. */
  def session(): SparkSession =
    SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("etlbench-query_slice")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .getOrCreate()

  def prepare(spark: SparkSession, report: Report): Double = {
    require(Files.isDirectory(java.nio.file.Paths.get(dataDir)), s"query data $dataDir is missing")
    if (!args.recordGolden) golden = QuerySlice.readGolden(goldenPath)
    spark.sparkContext.addSparkListener(jobTimes)
    0.0
  }

  def warmup(spark: SparkSession, report: Report): Unit = {
    val results = QuerySlice.Queries.map { name =>
      val fn = SparkEntry.queries(name)
      name -> Trace.span(s"queries.$name.collect") {
        try Some(QuerySlice.digest(Checks(spark)(fn(spark, dataDir).collect())))
        catch { case NonFatal(e) => report.check(false, s"$name failed: $e"); None }
      }
    }
    report.attempted += results.size
    report.failed += results.count(_._2.isEmpty)
    if (args.recordGolden) QuerySlice.writeGolden(goldenPath, results.collect { case (n, Some(d)) => n -> d })
    else results.foreach { case (name, got) =>
      got.foreach(d => report.check(golden.get(name).contains(d), s"$name: expected ${golden.get(name)}, got $d"))
    }
    jobTimes.take()
  }

  def pass(spark: SparkSession, report: Report, stats: Option[SparkStats]): Pass = {
    jobTimes.take()
    var failed = 0L
    val clock = new Clock
    QuerySlice.Queries.foreach { name =>
      val q0 = System.nanoTime()
      if (stats.isDefined) spark.sparkContext.setJobGroup(name, name)
      try Trace.span(s"queries.$name")(SparkEntry.queries(name)(spark, dataDir).write.format("noop").mode("overwrite").save())
      catch { case NonFatal(e) => failed += 1; report.check(false, s"$name failed: $e") }
      finally if (stats.isDefined) spark.sparkContext.clearJobGroup()
      if (stats.isDefined) perQueryMs(name) = perQueryMs.getOrElse(name, Vector.empty) :+ (System.nanoTime() - q0) / 1e6
    }
    Pass(clock.startMs, clock.elapsedMs, jobTimes.take(), QuerySlice.Queries.size.toLong, failed)
  }

  def layers(spark: SparkSession, report: Report, traced: Seq[Pass], stats: SparkStats): Unit = {
    val n = traced.size.toDouble
    QuerySlice.Queries.foreach { name =>
      report.layer(s"queries.${name}_s", Stats.median(perQueryMs.getOrElse(name, Vector.empty)) / 1000, "s")
      report.layer(s"queries.${name}_jobs", stats.groupJobs.getOrElse(name, 0L) / n, "count")
      report.layer(s"queries.${name}_shuffle_bytes", stats.groupShuffleBytes.getOrElse(name, 0L) / n, "B")
    }
    report.layer("streaming.rows_out", 0, "count")
    report.layer("sources.floor_env_per_s", 0, "1/s")
    Batch.zeroSinks(report)
    Batch.zeroStream(report)
  }
}

object QuerySlice {
  /** One query per operator family: relational joins and aggregate,
    * JSON events, LSH near-duplicates over the native hyperplane
    * expressions, hybrid retrieval and BPE learning. The tables they
    * read are copied into the benchmark's `data/sf0.1`.
    */
  val Queries: Seq[String] = Seq(
    "q02_region_revenue", "q12_event_json", "q80_emb_neardup_lsh_auto", "q107_hybrid_retrieval",
    "q130_bpe_learn")

  def zeroQueries(report: Report): Unit = Queries.foreach { name =>
    report.layer(s"queries.${name}_s", 0, "s")
    report.layer(s"queries.${name}_jobs", 0, "count")
    report.layer(s"queries.${name}_shuffle_bytes", 0, "B")
  }

  /** Canonical text of one value: doubles to nine significant digits,
    * maps sorted, nested rows and arrays recursively.
    */
  private def canon(v: Any): String = v match {
    case null                     => "∅"
    case d: Double                => if (d.isNaN || d.isInfinite) d.toString else "%.9g".format(d)
    case f: Float                 => "%.6g".format(f.toDouble)
    case b: java.math.BigDecimal  => b.stripTrailingZeros.toPlainString
    case b: BigDecimal            => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte]           => a.map("%02x".format(_)).mkString
    case r: Row                   => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp    => t.toInstant.toString
    case other                    => other.toString
  }

  /** Row count and an order-insensitive hash: the sum of per-row hashes. */
  def digest(rows: Array[Row]): (Long, String) = {
    var h1 = 0L
    var h2 = 0L
    rows.foreach { r =>
      val b = canon(r).getBytes(StandardCharsets.UTF_8)
      h1 += scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61).toLong
      h2 += scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995).toLong
    }
    (rows.length.toLong, f"$h1%016x$h2%016x")
  }

  def readGolden(path: Path): Map[String, (Long, String)] = {
    val json = graft.json.Json.parse(new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
    json.asObject.getOrElse(Map.empty).map { case (name, v) =>
      name -> ((v \ "rows").asLong.getOrElse(-1L), (v \ "hash").asString.getOrElse(""))
    }.toMap
  }

  def writeGolden(path: Path, results: Seq[(String, (Long, String))]): Unit = {
    val body = results.map { case (n, (rows, hash)) => s"""  "$n": {"rows": $rows, "hash": "$hash"}""" }
    Files.createDirectories(path.getParent)
    Files.write(path, body.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
  }
}
