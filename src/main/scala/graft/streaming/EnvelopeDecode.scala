package graft.streaming

import graft.pings.Envelope
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}

import scala.util.control.NonFatal

/** The envelope jobs' one decode contract (reference:
  * ErrorAggregatorBase.scala:229-236): each row's binary `value` column
  * is parsed into an [[Envelope]] and handed to the job's `parse`.
  * Malformed input, or a ping the job rejects by throwing, is dropped
  * when lenient; with `raiseOnError` the failure fails the task.
  *
  * `parse` must return a strict collection: its elements are built
  * inside the catch, so a lazy result would escape the contract.
  */
object EnvelopeDecode {

  /** envelopes(value: binary) → the job's typed rows, map-side only. */
  def apply[T: Encoder](envelopes: DataFrame, raiseOnError: Boolean)(
      parse: Envelope => IterableOnce[T]): Dataset[T] =
    envelopes.flatMap(v => one(v.getAs[Array[Byte]](0), raiseOnError)(parse))

  /** One envelope's rows under the contract. */
  def one[T](bytes: Array[Byte], raiseOnError: Boolean)(
      parse: Envelope => IterableOnce[T]): IterableOnce[T] =
    try parse(Envelope.parseFrom(bytes))
    catch { case NonFatal(_) if !raiseOnError => Iterator.empty }
}
