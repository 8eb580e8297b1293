package graft.streaming

import graft.SparkTest
import graft.json.Json
import graft.pings.TestMessages
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Golden aggregate checks mirroring the reference's
  * (reference: src/test/scala/com/mozilla/telemetry/streaming/ErrorAggregatorTest.scala:48-126 etc.).
  */
class ErrorAggregatorSpec extends AnyFunSuite with SparkTest {

  private val k = 42

  private def toDF(messages: Seq[graft.pings.Envelope]): DataFrame = {
    import spark.implicits._
    spark.createDataset(messages.map(_.toBytes)).toDF("value")
  }

  private def goldenMessages: Seq[graft.pings.Envelope] = {
    val mainCrashes =
      TestMessages.crashMessages(k - 2) ++
        TestMessages.crashMessages(1, customMetadata = """"StartupCrash": "0"""") ++
        TestMessages.crashMessages(1, customMetadata = """"StartupCrash": "1"""")
    val contentCrashes =
      TestMessages.crashMessages(1, customMetadata = """"ipc_channel_error": "ShutDownKill"""",
        processType = Some("content")) ++
        TestMessages.crashMessages(1, processType = Some("content"))
    mainCrashes ++ contentCrashes ++ TestMessages.mainMessages(k)
  }

  test("sums metrics over dimensions with 3-way experiment fan-out") {
    val df = ErrorAggregator.aggregate(toDF(goldenMessages), raiseOnError = true)
    val rows = df.collect()
    // one row per experiment (2) + the null-experiment row
    assert(rows.length == 3)

    def col[T](name: String): Set[Any] = rows.map(_.getAs[Any](name)).toSet

    assert(col[String]("submission_date_s3") == Set("20160407"))
    assert(col[String]("channel") == Set("release"))
    assert(col[String]("version") == Set("42.0"))
    assert(col[String]("display_version") == Set("42.0b1"))
    assert(col[String]("build_id") == Set("20170101000000"))
    assert(col[String]("application") == Set("Firefox"))
    assert(col[String]("os_name") == Set("Linux"))
    assert(col[String]("os_version") == Set("42"))
    assert(col[String]("architecture") == Set("x86"))
    assert(col[String]("country") == Set("IT"))
    assert(col[Long]("main_crashes") == Set(k.toLong))
    assert(col[Long]("content_crashes") == Set(1L))
    assert(col[Long]("startup_crashes") == Set(1L))
    assert(col[Long]("content_shutdown_crashes") == Set(1L))
    assert(col[Long]("gpu_crashes") == Set(k.toLong))
    assert(col[Long]("plugin_crashes") == Set(k.toLong))
    assert(col[Long]("gmplugin_crashes") == Set(k.toLong))
    assert(col[Long]("count") == Set(k.toLong * 2 + 2))
    assert(col[Double]("usage_hours") == Set(k.toDouble))
    assert(col[Long]("BROWSER_SHIM_USAGE_BLOCKED") == Set(k.toLong))
    assert(col[String]("experiment_id") == Set("experiment1", "experiment2", null))
    assert(col[String]("experiment_branch") == Set("control", "chaos", null))
    val windowStart = rows.head.getAs[Timestamp]("window_start").getTime
    val windowEnd = rows.head.getAs[Timestamp]("window_end").getTime
    assert(windowStart <= TestMessages.TestTimestampMillis)
    assert(windowEnd >= TestMessages.TestTimestampMillis)
    // client_id must never reach the output
    assert(!df.columns.contains("client_id"))
  }

  test("corrupt envelopes drop silently in lenient mode and raise in strict mode") {
    // the reference's semantics-preservation contract (SURVEY §7.3):
    // every parse error silently drops the ping unless raiseOnError
    import spark.implicits._
    val valid = TestMessages.crashMessages(2).map(_.toBytes)
    val corrupt = Array[Byte](0x7f, 0x00, 0x42, 0x13)
    val mixed = spark.createDataset(valid :+ corrupt).toDF("value")
    val lenient = ErrorAggregator.aggregate(mixed, raiseOnError = false).collect()
    // the 2 valid crashes aggregate (null-experiment row carries each
    // ping exactly once); the corrupt envelope vanishes
    assert(lenient.filter(_.isNullAt(lenient.head.fieldIndex("experiment_id")))
      .map(_.getAs[Long]("main_crashes")).sum == 2L)
    intercept[Exception] {
      ErrorAggregator.aggregate(mixed, raiseOnError = true).count()
    }
  }

  test("an envelope nested past the JSON depth limit drops when lenient and raises when strict") {
    import spark.implicits._
    val valid = TestMessages.crashMessages(2).map(_.toBytes)
    val deep = ("""{"fields":{"docType":"crash","x":""" + "[" * 5000 + "]" * 5000 +
      """},"timestamp":1,"payload":null}""").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val mixed = spark.createDataset(valid :+ deep).toDF("value")
    val lenient = ErrorAggregator.aggregate(mixed).collect()
    assert(lenient.filter(_.isNullAt(lenient.head.fieldIndex("experiment_id")))
      .map(_.getAs[Long]("main_crashes")).sum == 2L)
    val e = intercept[Exception](ErrorAggregator.aggregate(mixed, raiseOnError = true).count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(messages.exists(m => m.contains("IllegalArgumentException") && m.contains("nesting deeper than")),
      messages.mkString("\n"))
  }

  test("normalizes os_version") {
    val messages = TestMessages.mainMessages(1, Map(
      "environment.system" -> Json.str("""{"os": {"name": "linux", "version": "10.2.42-hello"}}""")))
    val df = ErrorAggregator.aggregate(toDF(messages), raiseOnError = true)
    assert(df.collect().map(_.getAs[String]("os_version")).toSet == Set("10.2.42"))
  }

  test("discards non-Firefox/Fennec pings silently") {
    val messages = TestMessages.mainMessages(1, Map("appName" -> Json.str("Chrome")))
    val df = ErrorAggregator.aggregate(toDF(messages))
    assert(df.count() == 0)
    intercept[Exception] {
      ErrorAggregator.aggregate(toDF(messages), raiseOnError = true).count()
    }
  }

  test("discards disallowed channel") {
    val messages = TestMessages.mainMessages(1, Map("normalizedChannel" -> Json.str("Other")))
    assert(ErrorAggregator.aggregate(toDF(messages)).count() == 0)
  }

  test("discards buildId older than 6 months") {
    val messages = TestMessages.mainMessages(1, Map(
      "environment.build" -> Json.str(
        """{"architecture": "x86", "buildId": "20160101000000", "version": "42.0"}""")))
    assert(ErrorAggregator.aggregate(toDF(messages)).count() == 0)
  }

  test("null display_version flows through") {
    val messages = TestMessages.crashMessages(1).map { env =>
      env.copy(payload = env.payload.map(_.replace(""""displayVersion":"42.0b1"""", """"displayVersion":null""")))
    }
    val df = ErrorAggregator.aggregate(toDF(messages), raiseOnError = true)
    assert(df.collect().map(_.getAs[String]("display_version")).toSet == Set(null))
  }

  test("Fennec core pings aggregate; non-Android core discarded") {
    val core = TestMessages.coreMessages(2)
    val df = ErrorAggregator.aggregate(toDF(core), raiseOnError = true)
    val rows = df.collect()
    assert(rows.length == 1) // core → null-experiment row only
    assert(rows.head.getAs[Long]("count") == 2L)
    assert(rows.head.getAs[String]("os_name") == "Android")
    assert(rows.head.getAs[Double]("usage_hours") == 2.0)

    val iosSubmission = TestMessages.coreMessages(1).map { env =>
      env.copy(fields = env.fields + ("submission" ->
        Json.str("""{"durations": 3600, "os": "iOS", "osversion": "11", "arch": "arm64"}""")))
    }
    assert(ErrorAggregator.aggregate(toDF(iosSubmission)).count() == 0)
  }

  test("experiments variant uses the narrower schema") {
    val df = ExperimentsErrorAggregator.aggregate(toDF(TestMessages.mainMessages(2)), raiseOnError = true)
    assert(df.count() == 3)
    assert(!df.columns.contains("BROWSER_SHIM_USAGE_BLOCKED"))
    assert(!df.columns.contains("display_version"))
    assert(df.columns.contains("experiment_id"))
  }

  test("streaming: same aggregate over MemoryStream with watermark emission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val agg = ErrorAggregator.aggregate(input.toDF().select($"value"), raiseOnError = false)
    val query = agg.writeStream
      .format("memory")
      .queryName("error_agg_stream")
      .outputMode("append")
      .start()
    try {
      input.addData(goldenMessages.map(_.toBytes))
      query.processAllAvailable()
      // advance the watermark past the 5-min window + 1-min lateness
      val later = TestMessages.TestTimestampNano + 10L * 60 * 1000 * 1000 * 1000
      input.addData(TestMessages.mainMessages(1, timestamp = later).map(_.toBytes))
      query.processAllAvailable()
      val out = spark.table("error_agg_stream").collect()
      assert(out.length == 3)
      assert(out.map(_.getAs[Long]("count")).toSet == Set(k.toLong * 2 + 2))
    } finally {
      query.stop()
    }
  }
}
