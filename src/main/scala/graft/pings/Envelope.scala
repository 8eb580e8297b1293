package graft.pings

import graft.json._

import java.nio.charset.StandardCharsets

/** Self-defined binary ping envelope: a JSON document carrying a typed
  * scalar `fields` map, a nanosecond `timestamp`, and an optional JSON
  * `payload` string. Same *semantics* as the reference's Heka-framed
  * protobuf message (fieldsAsMap + payload —
  * reference: src/main/scala/com/mozilla/telemetry/pings/Ping.scala:59-74)
  * with a dependency-free wire format (SURVEY.md §7.1 delta 1).
  */
final case class Envelope(
    fields: Map[String, JsonValue],
    timestamp: Long,
    payload: Option[String]) {

  def fieldString(name: String): Option[String] = fields.get(name).flatMap(_.coerceString)
  def fieldLong(name: String): Option[Long]     = fields.get(name).flatMap(_.asLong)
  def fieldDouble(name: String): Option[Double] = fields.get(name).flatMap(_.asDouble)

  /** Embedded-JSON field (environment.* / payload.* keys arrive as
    * stringified JSON inside the fields map, like the reference's
    * hindsight-preparsed fields).
    */
  def fieldJson(name: String): JsonValue =
    fields.get(name).flatMap(_.asString).flatMap(Json.parseOption).getOrElse(JsonUndefined)

  def payloadJson: JsonValue =
    payload.orElse(fields.get("submission").flatMap(_.asString))
      .flatMap(Json.parseOption).getOrElse(JsonObject.of())

  def toBytes: Array[Byte] = {
    val obj = JsonObject.of(
      ("fields", JsonObject(scala.collection.immutable.ListMap(fields.toSeq: _*))),
      ("timestamp", Json.num(timestamp)),
      ("payload", payload.map(Json.str).getOrElse(JsonNull)))
    obj.render.getBytes(StandardCharsets.UTF_8)
  }
}

object Envelope {
  /** Decode or throw (the jobs decode through
    * `graft.streaming.EnvelopeDecode`, which drops on error unless
    * `raiseOnError`, as the reference does —
    * ErrorAggregatorBase.scala:229-236).
    */
  def parseFrom(bytes: Array[Byte]): Envelope = {
    val v = Json.parse(new String(bytes, StandardCharsets.UTF_8))
    val fields = (v \ "fields").asObject
      .getOrElse(throw new IllegalArgumentException("envelope missing fields"))
    Envelope(
      fields = fields,
      timestamp = (v \ "timestamp").asLong
        .getOrElse(throw new IllegalArgumentException("envelope missing timestamp")),
      payload = (v \ "payload").asString)
  }
}
