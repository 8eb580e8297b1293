package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites reuse it —
  * session startup dominates test wall-clock otherwise).
  */
object SparkTest {
  lazy val spark: SparkSession = {
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // same codegen fallback regime as the Bench/Verify/job sessions,
      // so plan-pinning specs grade the plans those sessions execute
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
    // the fork-free `file:` of every src/main session, so specs write
    // checkpoints and outputs through the same filesystem classes
    val s = Sessions.LocalFsConfs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTest {
  lazy val spark: SparkSession = SparkTest.spark
}
