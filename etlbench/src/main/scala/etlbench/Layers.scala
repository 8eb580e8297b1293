package etlbench

import graft.json.Json
import graft.pings._

import java.nio.charset.StandardCharsets

/** Single-thread baselines of the decode layers (`json`, `pings`) over a
  * seeded sample of the batch corpus: what one core does with no Spark
  * around it. Run in traced mode only, after the timed passes.
  */
object Layers {
  private val SampleSize = 3000
  private val RoundSeconds = 0.3

  /** Runs `body` over the sample in rounds for a fixed time; returns calls per second. */
  private def rate[A](name: String, sample: IndexedSeq[A])(body: A => Any): Double = Trace.span(name) {
    var calls = 0L
    var sink = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < RoundSeconds * 1e9 || calls == 0) {
      sample.foreach { a => sink ^= body(a).hashCode; calls += 1 }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == 42) System.err.print("")  // keep the results alive
    calls / dt
  }

  def singleThread(args: Main.Args, report: Report): Unit = {
    val layout = Corpus.Layout("batch", args.seed, SampleSize, 1)
    val specs = Corpus.specs(layout).filter(_.flaw == Corpus.NoFlaw)
    val bytes = specs.map(Corpus.bytes)
    val texts = bytes.map(new String(_, StandardCharsets.UTF_8))
    // one warm round each, so the JIT has compiled the decoders
    texts.foreach(Json.parse)
    bytes.foreach(Envelope.parseFrom)
    report.layer("json.parse_env_per_s", rate("json.parse", texts)(Json.parse), "1/s")
    report.layer("pings.envelope_parse_env_per_s", rate("pings.envelope", bytes)(Envelope.parseFrom), "1/s")
    def model(kind: Corpus.Kind, name: String)(f: Envelope => Any): Unit = {
      val envs = specs.zip(bytes).collect { case (sp, b) if sp.kind == kind => Envelope.parseFrom(b) }
      envs.foreach(f)
      report.layer(s"pings.${name}_model_us", 1e6 / rate(s"pings.$name", envs)(f), "us")
    }
    model(Corpus.Main, "main")(MainPing.fromEnvelope)
    model(Corpus.Crash, "crash")(CrashPing.fromEnvelope)
    model(Corpus.Core, "core")(CorePing.fromEnvelope)
    model(Corpus.Event, "event")(EventPing.fromEnvelope)
  }
}
