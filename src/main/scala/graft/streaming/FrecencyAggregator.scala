package graft.streaming

import graft.pings.{Envelope, FrecencyUpdatePing}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset}

import java.sql.Timestamp

/** Injectable processing-time clock (reference keeps the same seam for
  * testability — FederatedLearningSearchOptimizer.scala:77).
  */
trait GraftClock extends Serializable { def millis(): Long }
object SystemClock extends GraftClock { def millis(): Long = System.currentTimeMillis() }

final case class FrecencyUpdate(
    ts: Timestamp, modelVersion: Long, loss: Double,
    updates: Array[Double], client_id: Option[String])

final case class WindowBounds(start: Timestamp, end: Timestamp)

final case class FrecencyUpdateAggregate(
    window: WindowBounds,
    modelVersion: Long,
    avgLoss: Double,
    count: Long,
    avgUpdates: Array[Double],
    approxClientCount: Long)

/** Frecency gradient aggregation: processing-time stamped updates →
  * 30-minute offset windows → (avg loss, count, element-wise avg of the
  * 22-dim gradient, HLL distinct clients) (reference:
  * src/main/scala/com/mozilla/telemetry/streaming/FederatedLearningSearchOptimizer.scala:59-106).
  */
object FrecencyAggregator {

  val NumberOfWeights = 22

  /** The ping's update, stamped with processing time, if it is a
    * submitting ping of `modelBranch` that displayed suggestions.
    */
  private[streaming] def frecencyUpdate(env: Envelope, modelBranch: String,
                                        clock: GraftClock): Option[FrecencyUpdate] =
    if (!env.fieldString("docType").contains("frecency-update")) None
    else {
      val ping = FrecencyUpdatePing.fromEnvelope(env)
      val keep = ping.studyVariation.startsWith(modelBranch) &&
        !ping.studyVariation.contains("not-submitting") &&
        ping.bookmarkAndHistoryNumSuggestionsDisplayed > -1
      if (keep)
        Some(FrecencyUpdate(new Timestamp(clock.millis()), ping.modelVersion,
          ping.loss, ping.update, ping.meta.clientId))
      else None
    }

  def aggregate(pings: DataFrame, modelBranch: String, clock: GraftClock,
                windowOffsetMin: Int = 28, raiseOnError: Boolean = false): Dataset[FrecencyUpdateAggregate] = {
    import pings.sparkSession.implicits._

    EnvelopeDecode(pings, raiseOnError)(frecencyUpdate(_, modelBranch, clock))
      .withWatermark("ts", "0 minutes")
      .groupBy(
        window($"ts", "30 minutes", "30 minutes", s"$windowOffsetMin minutes"),
        $"modelVersion")
      .agg(
        avg($"loss").as("avgLoss"),
        count("*").as("count"),
        array((0 until NumberOfWeights).map(i => avg($"updates"(i))): _*).as("avgUpdates"),
        approx_count_distinct($"client_id", 0.02).as("approxClientCount"))
      .as[FrecencyUpdateAggregate]
  }
}
