package graft.sources

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 synthetic micro-batch source end-to-end: determinism,
  * offset bookkeeping across restart, and event-time integration.
  */
class SynthStreamSourceSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  test("graft-synth: bounded deterministic stream with exact offsets and payloads") {
    val q = spark.readStream.format("graft-synth")
      .option("rowsPerBatch", "10").option("maxRows", "30")
      .option("numPartitions", "3")
      .load()
      .writeStream.format("memory").queryName("synth_det")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("synth_det")
      .select($"offset", $"partition", $"ts".cast("long").as("ts_s"), $"value")
      .collect()
    assert(rows.length == 30)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 30L))
    rows.foreach { r =>
      val i = r.getLong(0)
      assert(r.getLong(2) == SynthStreamSource.DefaultStartEpochSeconds + i)
      assert(r.getAs[Array[Byte]](3).toSeq == SynthStreamSource.payload(42L, i).toSeq)
      assert(r.getInt(1) >= 0 && r.getInt(1) < 3)
    }
  }

  test("graft-synth: restart from checkpoint resumes offsets without gaps or dups") {
    import java.nio.file.Files
    val outDir = Files.createTempDirectory("graft-synth-out").toString
    val ckptDir = Files.createTempDirectory("graft-synth-ckpt").toString
    def run(maxRows: Int): Unit = {
      val q = spark.readStream.format("graft-synth")
        .option("rowsPerBatch", "7").option("maxRows", maxRows.toString)
        .load()
        .select($"offset", $"value")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run(maxRows = 20)
    assert(spark.read.parquet(outDir).count() == 20)
    run(maxRows = 40) // restart: must resume AT 20, not regenerate 0..19
    val offsets = spark.read.parquet(outDir).select($"offset")
      .as[Long].collect().sorted.toSeq
    assert(offsets == (0L until 40L), s"gaps/dups after restart: $offsets")
  }

  test("graft-synth honors ReadLimit.maxRows admission hints (min with rowsPerBatch)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val stream = new SynthStreamSource.SynthMicroBatchStream(
      rowsPerBatch = 10L, numPartitions = 2, maxRows = 1000L, seed = 42L,
      startEpochSeconds = SynthStreamSource.DefaultStartEpochSeconds)
    val start = stream.initialOffset()
    def endPos(limit: ReadLimit): Long =
      stream.latestOffset(start, limit).asInstanceOf[SynthStreamSource.SynthOffset].pos
    // a tighter hint than rowsPerBatch wins; a looser one doesn't
    assert(endPos(ReadLimit.maxRows(3L)) == 3L)
    assert(endPos(ReadLimit.maxRows(50L)) == 10L)
    assert(endPos(ReadLimit.allAvailable()) == 10L)
    assert(endPos(ReadLimit.compositeLimit(
      Array(ReadLimit.allAvailable(), ReadLimit.maxRows(4L)))) == 4L)
  }

  test("graft-synth drives an event-time windowed aggregate to closure") {
    // 1 row/sec monotone event time: 150 rows + 10s watermark closes the
    // first two 60s windows with exactly 60 rows each
    val stream = spark.readStream.format("graft-synth")
      .option("rowsPerBatch", "50").option("maxRows", "150")
      .load()
    val agg = graft.operators.WindowedAgg.tumbling(
        stream, "ts", "60 seconds", "10 seconds",
        Seq.empty, Seq(count(lit(1)).as("n")))
      .select($"window_start".cast("long").as("w"), $"n")
    val q = agg.writeStream.format("memory").queryName("synth_win")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val byWindow = spark.table("synth_win")
      .as[(Long, Long)].collect().toMap
    val base = SynthStreamSource.DefaultStartEpochSeconds
    assert(byWindow.get(base).contains(60L), s"got $byWindow")
    assert(byWindow.get(base + 60).contains(60L), s"got $byWindow")
  }
}
