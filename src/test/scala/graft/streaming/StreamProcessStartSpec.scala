package graft.streaming

import graft.SparkTest
import graft.pings.TestMessages
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** A trigger's fixed cost must not include fork/exec. Hadoop's local
  * filesystem without libhadoop starts `chmod` and `readlink` processes
  * for each checkpoint and output file (about 130 per trigger of the
  * error-aggregates stream); the session's fork-free `file:` starts
  * none. JFR's `jdk.ProcessStart` event counts every process this JVM
  * starts.
  */
class StreamProcessStartSpec extends AnyFunSuite with SparkTest {

  test("three triggers of the error-aggregates stream start no process") {
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val outDir = Files.createTempDirectory("fork-free-out").toString
    val opts = StreamingJobBase.parseOpts("error_aggregator", Array(
      "--kafkaBroker", "unused:9092", // streaming mode; source injected below
      "--checkpointPath", Files.createTempDirectory("fork-free-ckpt").toString,
      "--outputPath", outDir))
    val input = MemoryStream[Array[Byte]]
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    val jfr = Files.createTempFile("process-start", ".jfr")
    recording.start()
    val q = Jobs.ErrorAggregatorJob.startWithSource(opts, input.toDF())
    try {
      // 10 minutes of event time per trigger: each trigger closes the
      // windows of the one before, so state, offsets, commits and
      // output files are all written
      for (i <- 0 until 3) {
        input.addData(TestMessages.crashMessages(20,
          timestamp = TestMessages.TestTimestampNano + i * 600L * 1000000000L).map(_.toBytes))
        q.processAllAvailable()
      }
      recording.stop()
      recording.dump(jfr)
    } finally {
      q.stop()
      recording.close()
    }
    val started = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    assert(started.size == 0, s"processes started, e.g. ${started.take(5).mkString("; ")}")
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(spark.read.parquet(s"$outDir/error_aggregator/v2").count() > 0)
  }
}
