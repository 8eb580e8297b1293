package graft.streaming

import graft.SparkTest
import graft.pings.TestMessages
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Watermark-advance emission choreography over MemoryStream for the
  * windowed pipelines — the reference drives the same dance with extra
  * batches (reference: src/test/scala/com/mozilla/telemetry/streaming/ExperimentEnrollmentsToTestTubeTest.scala:47-62,
  * T/sinks/ForeachSinkTest.scala:37-62).
  */
class StreamingSemanticsSpec extends AnyFunSuite with SparkTest {

  private val TenMinutesNs = 10L * 60 * 1000 * 1000 * 1000

  test("windowed stream recovers from checkpoint without loss or duplication") {
    // exactly-once across a restart: run a file-source windowed count,
    // stop the query, append more data, restart from the SAME
    // checkpoint — every closed window must appear exactly once
    import java.nio.file.Files
    import java.sql.Timestamp
    import org.apache.spark.sql.functions._
    val srcDir = Files.createTempDirectory("graft-ckpt-src").toString
    val outDir = Files.createTempDirectory("graft-ckpt-out").toString
    val ckptDir = Files.createTempDirectory("graft-ckpt-state").toString
    import spark.implicits._
    def ts(minutes: Long) = new Timestamp(minutes * 60000L)
    def append(rows: Seq[(Timestamp, String)]): Unit =
      rows.toDF("ts", "event_type").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def startQuery() = {
      val stream = spark.readStream
        .schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1") // several micro-batches per run
        .parquet(srcDir)
      // 10-minute watermark delay: within run 1 the two seed files may
      // process in either mtime order; the delay must exceed their max
      // timestamp gap so neither order drops the other file as late
      graft.operators.WindowedAgg.tumbling(stream, "ts", "5 minutes",
          "10 minutes", Seq(col("event_type")), Seq(count(lit(1)).as("n")))
        .select(col("window_start"), col("event_type"), col("n"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }
    // window [0,5): 3 clicks; [5,10): 2 views
    append(Seq((ts(1), "click"), (ts(2), "click"), (ts(4), "click")))
    append(Seq((ts(6), "view"), (ts(8), "view")))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // restart from checkpoint; new data closes the earlier windows
    // (watermark = max ts − 10 min must pass each window's end)
    append(Seq((ts(12), "click"), (ts(13), "click")))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    // third run: advance far enough to close [10,15) as well
    append(Seq((ts(30), "view")))
    val q3 = startQuery()
    q3.processAllAvailable()
    q3.stop()
    val out = spark.read.parquet(outDir)
      .select($"window_start".cast("long"), $"event_type", $"n")
      .as[(Long, String, Long)].collect().toList
    // no window/event_type pair may be emitted twice across restarts
    assert(out.size == out.map(r => (r._1, r._2)).distinct.size,
      s"duplicate window emissions: $out")
    val byWindow = out.map { case (w, e, n) => (w / 60, e) -> n }.toMap
    assert(byWindow((0L, "click")) == 3L)
    assert(byWindow((5L, "view")) == 2L)
    assert(byWindow((10L, "click")) == 2L)
  }

  test("stream-stream interval join recovers buffered state across restart") {
    // a click arriving only AFTER a restart can join an impression seen
    // only BEFORE it iff the join's buffered state was recovered from
    // the checkpoint; inner interval joins emit on match, so no timeout
    // choreography is needed
    import java.nio.file.Files
    import java.sql.Timestamp
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val impDir = Files.createTempDirectory("graft-ssj-imp").toString
    val clkDir = Files.createTempDirectory("graft-ssj-clk").toString
    val outDir = Files.createTempDirectory("graft-ssj-out").toString
    val ckptDir = Files.createTempDirectory("graft-ssj-ckpt").toString
    def ts(s: Long) = new Timestamp(s * 1000L)
    def appendImp(rows: Seq[(Long, Timestamp)]): Unit =
      rows.toDF("imp_key", "imp_ts").coalesce(1).write.mode("append").parquet(impDir)
    def appendClk(rows: Seq[(Long, Timestamp)]): Unit =
      rows.toDF("clk_key", "clk_ts").coalesce(1).write.mode("append").parquet(clkDir)
    def startQuery() = {
      val clicks = spark.readStream.schema("clk_key long, clk_ts timestamp")
        .option("maxFilesPerTrigger", "1").parquet(clkDir)
      val imps = spark.readStream.schema("imp_key long, imp_ts timestamp")
        .option("maxFilesPerTrigger", "1").parquet(impDir)
      graft.operators.StreamJoins.joinWithinInterval(clicks, imps,
          "clk_key", "imp_key", "clk_ts", "imp_ts", "2 minutes",
          intervalSeconds = 60L)
        .select(col("clk_key"), col("clk_ts").cast("long").as("clk_s"),
          col("imp_ts").cast("long").as("imp_s"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }
    // run 1: impressions 1 and 2 enter join state; a click joins imp 1
    appendImp(Seq((1L, ts(10)), (2L, ts(20))))
    appendClk(Seq((1L, ts(15))))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // run 2: the key-2 click exists only post-restart — joining it to
    // the key-2 impression requires the recovered buffer; key 3 is a
    // fully-post-restart pair as a control
    appendClk(Seq((2L, ts(25))))
    appendImp(Seq((3L, ts(100))))
    appendClk(Seq((3L, ts(110))))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir)
      .select($"clk_key", $"clk_s", $"imp_s").as[(Long, Long, Long)]
      .collect().toList
    assert(out.size == out.distinct.size, s"duplicate join emissions: $out")
    assert(out.toSet == Set((1L, 15L, 10L), (2L, 25L, 20L), (3L, 110L, 100L)))
  }

  test("sessionization state survives restart: open sessions close exactly once") {
    // flatMapGroupsWithState recovery: user 1's session opened in run 1
    // can only be closed (with the right start/count) by run 2's
    // gap-exceeding event if the OpenSession state came back from the
    // checkpoint; user 2's session must close by event-time timeout
    import java.nio.file.Files
    import java.sql.Timestamp
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-sess-src").toString
    val outDir = Files.createTempDirectory("graft-sess-out").toString
    val ckptDir = Files.createTempDirectory("graft-sess-ckpt").toString
    // base offset keeps test event times strictly ABOVE the initial
    // watermark (0): a row exactly AT the watermark is dropped as late,
    // so an epoch-0 event would silently vanish from the first session
    val base = 1000L
    def ts(s: Long) = new Timestamp((base + s) * 1000L)
    def append(rows: Seq[(Long, Timestamp)]): Unit =
      rows.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(srcDir)
    def startQuery() = {
      val events = spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[graft.operators.Sessionize.UserEvent]
      graft.operators.Sessionize
        .streamingSessions(events, gapSeconds = 60L, watermarkDelay = "10 seconds")
        .toDF()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }
    // run 1: both users leave OPEN sessions in state, nothing emitted
    append(Seq((1L, ts(0)), (1L, ts(30)), (2L, ts(5))))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // run 2: user 1's event at 200s exceeds the 60s gap — closing [0,30]
    // with n=2 requires the recovered state; the watermark advance to
    // 190s also makes user 2's timeout (65s) due
    append(Seq((1L, ts(200))))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // run 3: two files (= two micro-batches) so the second batch starts
    // with watermark ≥ 1040s and deterministically fires user 1's
    // reopened-session timeout (260s) without relying on no-data batches;
    // user 3's two events are 50s apart — same session, stays open
    append(Seq((3L, ts(1000))))
    append(Seq((3L, ts(1050))))
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val out = spark.read.parquet(outDir)
      .select($"user_id", $"session_start".cast("long"),
        $"session_end".cast("long"), $"n_events")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(out.size == out.distinct.size, s"duplicate session emissions: $out")
    assert(out.toSet == Set(
      (1L, base + 0L, base + 30L, 2L),
      (2L, base + 5L, base + 5L, 1L),
      (1L, base + 200L, base + 200L, 1L)))
  }

  test("rocksdb state store: session state survives restart under RocksDB") {
    // same recovery contract as the default provider, but with the
    // 100 TB-state configuration (RocksDB + changelog checkpointing);
    // also proves the provider actually engaged by checking the
    // checkpoint's state files are RocksDB artifacts, not HDFS deltas
    import java.nio.file.Files
    import java.sql.Timestamp
    import spark.implicits._
    val confs = graft.Sessions.rocksDbStateConfs(enabled = true)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val srcDir = Files.createTempDirectory("graft-rdb-src").toString
      val outDir = Files.createTempDirectory("graft-rdb-out").toString
      val ckptDir = Files.createTempDirectory("graft-rdb-ckpt").toString
      val base = 1000L
      def ts(s: Long) = new Timestamp((base + s) * 1000L)
      def append(rows: Seq[(Long, Timestamp)]): Unit =
        rows.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(srcDir)
      def startQuery() = {
        val events = spark.readStream.schema("user_id long, ts timestamp")
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
          .as[graft.operators.Sessionize.UserEvent]
        graft.operators.Sessionize
          .streamingSessions(events, gapSeconds = 60L, watermarkDelay = "10 seconds")
          .toDF()
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckptDir)
          .outputMode("append").start()
      }
      append(Seq((1L, ts(0)), (1L, ts(30))))
      val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
      append(Seq((1L, ts(200)))) // closes [0,30] iff RocksDB state recovered
      val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
      val out = spark.read.parquet(outDir)
        .select($"user_id", $"session_start".cast("long"),
          $"session_end".cast("long"), $"n_events")
        .as[(Long, Long, Long, Long)].collect().toList
      assert(out.contains((1L, base + 0L, base + 30L, 2L)), s"got $out")
      import scala.jdk.CollectionConverters._
      val stateFiles = java.nio.file.Files
        .walk(java.nio.file.Paths.get(ckptDir, "state"))
        .iterator().asScala.map(_.getFileName.toString).toList
      assert(stateFiles.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
        s"no RocksDB artifacts in checkpoint state dir: $stateFiles")
      assert(!stateFiles.exists(_.endsWith(".delta")),
        "HDFS-provider delta files present — RocksDB provider did not engage")
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("enrollments stream: window emits only after watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val query = ExperimentEnrollmentsAggregator.aggregate(input.toDF())
      .writeStream.format("memory").queryName("enroll_stream").outputMode("append").start()
    try {
      input.addData(TestMessages.eventMessages(3).map(_.toBytes))
      query.processAllAvailable()
      // append mode: nothing emitted while the window can still receive
      // late data
      assert(spark.table("enroll_stream").count() == 0)
      input.addData(TestMessages.eventMessages(1,
        timestamp = TestMessages.TestTimestampNano + TenMinutesNs).map(_.toBytes))
      query.processAllAvailable()
      val rows = spark.table("enroll_stream").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("enroll_count") == 3L)
    } finally query.stop()
  }

  test("testtube stream: JSON rows emitted on watermark advance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val query = ExperimentEnrollmentsToTestTube.sinkRows(input.toDF())
      .writeStream.format("memory").queryName("testtube_stream").outputMode("append").start()
    try {
      input.addData(TestMessages.eventMessages(2).map(_.toBytes))
      query.processAllAvailable()
      input.addData(TestMessages.eventMessages(1,
        timestamp = TestMessages.TestTimestampNano + TenMinutesNs).map(_.toBytes))
      query.processAllAvailable()
      val rows = spark.table("testtube_stream").as[String].collect()
      assert(rows.length == 1)
      val j = graft.json.Json.parse(rows.head)
      assert((j \ "enroll_count").asLong.contains(2L))
      assert((j \ "type").asString.contains("preference_study"))
    } finally query.stop()
  }

  test("frecency stream: offset windows + stateful sink across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clock = new graft.learning.ManualClock(1530291900000L)
    val modelDir = java.nio.file.Files.createTempDirectory("model_s").toString
    val stateDir = java.nio.file.Files.createTempDirectory("state_s").toString
    val sink = new graft.learning.FederatedLearningSink(modelDir, stateDir)
    val input = MemoryStream[Array[Byte]]
    val agg = FrecencyAggregator.aggregate(input.toDF(), "model1", clock, raiseOnError = true)
    val query = agg.writeStream
      .outputMode("append")
      .foreachBatch((ds: org.apache.spark.sql.Dataset[FrecencyUpdateAggregate], id: Long) =>
        sink.addBatch(ds, id))
      .start()
    try {
      input.addData(TestMessages.frecencyMessages(2, modelVersion = 0L).map(_.toBytes))
      query.processAllAvailable()
      // watermark is 0 minutes; advance processing-time past the window
      clock.advance(31L * 60 * 1000)
      input.addData(TestMessages.frecencyMessages(1, modelVersion = 5L).map(_.toBytes))
      query.processAllAvailable()
      clock.advance(31L * 60 * 1000)
      input.addData(TestMessages.frecencyMessages(1, modelVersion = 6L).map(_.toBytes))
      query.processAllAvailable()
      assert(sink.state.iteration >= 1L)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(modelDir, "latest.json")))
    } finally query.stop()
  }
}
