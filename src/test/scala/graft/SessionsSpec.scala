package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the two session recipes from plain values: no session is built. */
class SessionsSpec extends AnyFunSuite {

  private val cores = Runtime.getRuntime.availableProcessors

  private def mainSource(rel: String): String =
    Files.readString(Paths.get("src/main/scala", rel))

  test("Bench and Verify build the same query-pack session, and it is the only builder") {
    val mains = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def builds(p: Path) = Files.readString(p).contains("SparkSession.builder()")
    assert(mains.filter(builds).map(_.getFileName.toString) == Seq("Sessions.scala"))
    for (entry <- Seq("graft/Bench.scala", "graft/Verify.scala"))
      assert(mainSource(entry).contains("Sessions.queryPack("), entry)
    assert(Sessions.queryPackConfs(Map("SPARK_GRAFT_CPUS" -> "3")) == Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.codegen.hugeMethodLimit" -> "8000",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.join.preferSortMergeJoin" -> "false"))
    assert(Sessions.queryPackConfs(Map("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "64"))
      .contains("spark.sql.shuffle.partitions" -> "64"))
  }

  test("the job recipe is the reference jobs' six confs, plus RocksDB when enabled") {
    val six = Seq(
      "spark.streaming.stopGracefullyOnShutdown" -> "true",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.codegen.hugeMethodLimit" -> "8000",
      "spark.sql.files.openCostInBytes" -> "8192")
    assert(Sessions.jobConfs(rocksDbState = false) == six)
    assert(Sessions.jobConfs(rocksDbState = true) == six ++ Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
    assert(mainSource("graft/streaming/StreamingJobBase.scala").contains("Sessions.job("))
    for (on <- Seq("1", "true", " YES ", "on"))
      assert(Sessions.rocksDbState(Map("GRAFT_ROCKSDB_STATE" -> on)), on)
    for (off <- Seq("0", "false", "", "no", "enabled"))
      assert(!Sessions.rocksDbState(Map("GRAFT_ROCKSDB_STATE" -> off)), off)
    assert(!Sessions.rocksDbState(Map.empty))
  }

  test("malformed, zero or negative core and partition counts fall back to the default") {
    assert(Sessions.cpus(Map.empty) == cores)
    assert(Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> " 6 ")) == 6)
    assert(Sessions.shufflePartitions(Map("SPARK_GRAFT_CPUS" -> "6")) == 6)
    for (bad <- Seq("", "four", "4.5", "0", "-2", "99999999999")) {
      assert(Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> bad)) == cores, bad)
      assert(Sessions.shufflePartitions(Map("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> bad)) == cores, bad)
      assert(Sessions.shufflePartitions(
        Map("SPARK_GRAFT_CPUS" -> "6", "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> bad)) == 6, bad)
    }
  }
}
