package graft.streaming

import graft.json.{Json, JsonValue}
import graft.pings.{Envelope, TestMessages}
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}

import scala.util.control.NonFatal

/** The decode contract under every job's parse function: valid,
  * field-mangled, truncated, byte-mutated and random envelopes never
  * throw when lenient, throw only non-fatal exceptions when strict, and
  * yield as many rows lenient as strict, or none where strict throws.
  */
object EnvelopeDecodeProperties extends Properties("graft.streaming.EnvelopeDecode") {

  private val amplitudeConfig = graft.amplitude.AmplitudeConfig.parse(
    new String(getClass.getResourceAsStream("/amplitudeTestConfig.json").readAllBytes()))

  private val parsers: Seq[(String, Envelope => IterableOnce[Any])] = Seq(
    "error_aggregator" -> ErrorAggregator.parseEnvelope,
    "experiments_error_aggregator" -> ExperimentsErrorAggregator.parseEnvelope,
    "crashes_to_influx" -> (CrashesToInflux.parsePing(_, CrashesToInflux.defaultChannels,
      CrashesToInflux.defaultAppNames, "crashes")),
    "crashes_to_opentsdb" -> (CrashesToOpenTsdb.parsePing(_, CrashesToOpenTsdb.defaultChannels,
      CrashesToOpenTsdb.defaultAppNames, "crashes")),
    "event_ping_events" -> EventPingEvents.eventRows,
    "events_to_amplitude" -> (EventsToAmplitude.parsePing(_, 1.0, amplitudeConfig)),
    "experiment_enrollments" -> ExperimentEnrollmentsAggregator.extractEnrollmentEvents,
    "federated_learning" -> (FrecencyAggregator.frecencyUpdate(_, "model1", SystemClock)),
    "uptake_events_to_datadog" -> UptakeEventsToDatadog.metrics)

  private val uptakeEvents =
    """{"parent": [[1, "uptake.remotecontent.result", "uptake", "remotesettings", "success",
      |  {"source": "settings-sync/main/tippytop", "duration": "12", "age": "x"}]]}""".stripMargin

  private val genPing: Gen[Envelope] = Gen.oneOf(
    Gen.const(TestMessages.crashMessages(1).head),
    Gen.const(TestMessages.mainMessages(1).head),
    Gen.const(TestMessages.coreMessages(1).head),
    Gen.const(TestMessages.eventMessages(1).head),
    Gen.const(TestMessages.eventMessages(1, customEvents = Some(uptakeEvents)).head),
    Gen.const(TestMessages.focusEventMessages(1).head),
    Gen.const(TestMessages.mobileEventMessages(1).head),
    Gen.const(TestMessages.frecencyMessages(1).head))

  private val genJunkValue: Gen[JsonValue] = Gen.oneOf(
    Gen.const(graft.json.JsonNull),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(Json.num),
    Gen.asciiPrintableStr.map(Json.str),
    Gen.oneOf("{", "[1,", "{\"a\": }", "null", "\"\"", "[]", "{}").map(Json.str))

  /** One field dropped or replaced by junk; the payload dropped or cut. */
  private def mangleFields(env: Envelope): Gen[Envelope] = Gen.oneOf(
    Gen.oneOf(env.fields.keys.toSeq).map(k => env.copy(fields = env.fields - k)),
    for {
      k <- Gen.oneOf(env.fields.keys.toSeq)
      v <- genJunkValue
    } yield env.copy(fields = env.fields.updated(k, v)),
    Gen.const(env.copy(payload = None)),
    Gen.choose(0, env.payload.fold(0)(_.length))
      .map(n => env.copy(payload = env.payload.map(_.take(n)))))

  private def mutateBytes(bytes: Array[Byte]): Gen[Array[Byte]] =
    Gen.listOfN(4, Gen.zip(Gen.choose(0, bytes.length - 1), Arbitrary.arbByte.arbitrary))
      .map { edits =>
        val out = bytes.clone()
        edits.foreach { case (i, b) => out(i) = b }
        out
      }

  private val genBytes: Gen[Array[Byte]] = Gen.frequency(
    2 -> genPing.map(_.toBytes),
    3 -> genPing.flatMap(mangleFields).map(_.toBytes),
    2 -> genPing.map(_.toBytes).flatMap(b => Gen.choose(0, b.length).map(b.take)),
    3 -> genPing.map(_.toBytes).flatMap(mutateBytes),
    1 -> Gen.listOf(Arbitrary.arbByte.arbitrary).map(_.toArray))

  private def rows(bytes: Array[Byte], raiseOnError: Boolean,
                   parse: Envelope => IterableOnce[Any]): Vector[Any] =
    EnvelopeDecode.one(bytes, raiseOnError)(parse).iterator.toVector

  property("lenient never throws; strict throws only non-fatal; same rows or none") =
    Prop.forAll(genBytes) { bytes =>
      Prop.all(parsers.map { case (job, parse) =>
        val lenient = rows(bytes, raiseOnError = false, parse)
        val strict =
          try Right(rows(bytes, raiseOnError = true, parse))
          catch { case t: Throwable => Left(t) }
        val holds = strict match {
          case Right(r) => r.size == lenient.size
          case Left(t)  => NonFatal(t) && lenient.isEmpty
        }
        Prop(holds) :| s"$job: strict=$strict lenient=$lenient"
      }: _*)
    }
}
