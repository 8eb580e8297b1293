package etlbench

import graft.json._
import graft.pings.Envelope

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded envelope corpus: the inputs of the two ETL workloads, built
  * through the program's public `Envelope`/`Json` API, plus the outputs
  * the program must produce for them, derived here from the generator's
  * own choices (never by calling the program's decode).
  *
  * Every envelope is first drawn as a cheap [[Spec]]; rendering the
  * bytes is a separate, pure step, so executors can render in parallel
  * while the Spark driver computes the expectations from the specs alone.
  */
object Corpus {

  sealed trait Kind
  case object Main extends Kind
  case object Crash extends Kind
  case object Core extends Kind
  case object Event extends Kind

  /** Planted defects. Each is rejected by a known rule of the jobs. */
  sealed trait Flaw
  case object NoFlaw extends Flaw
  case object Malformed extends Flaw   // truncated bytes: envelope decode fails
  case object BadDocType extends Flaw  // docType "modules": allowed by no job
  case object BadApp extends Flaw      // appName "Thunderbird"
  case object BadChannel extends Flaw  // channel "Other": error aggregates drop it

  final case class Normandy(method: String, experiment: String, branch: String)

  final case class Spec(
      index: Int,
      kind: Kind,
      flaw: Flaw,
      tsNanos: Long,
      country: String,
      channel: String,
      buildDaysBack: Int,
      osName: String,
      osVersion: String,
      arch: String,
      appVersion: String,
      client: Int,
      experiments: Vector[(String, String)],
      subsessionSeconds: Int,
      histogramCounts: Vector[Int],
      crashProcess: String,
      startupCrash: Boolean,
      shutdownKill: Boolean,
      normandy: Vector[Normandy],
      parentEvents: Int,
      contentEvents: Int) {

    def appName: String = flaw match {
      case BadApp => "Thunderbird"
      case _      => if (kind == Core) "Fennec" else "Firefox"
    }
    def docType: String = flaw match {
      case BadDocType => "modules"
      case _ => kind match {
        case Main => "main"; case Crash => "crash"; case Core => "core"; case Event => "event"
      }
    }
    def normalizedChannel: String = if (flaw == BadChannel) "Other" else channel
    def tsMillis: Long = tsNanos / 1000000L
    def submissionDate: String = Corpus.dateString(tsMillis)
    def buildId: String = {
      val d = Instant.ofEpochMilli(tsMillis).atZone(ZoneOffset.UTC).toLocalDate.minusDays(buildDaysBack)
      d.format(DateTimeFormatter.BASIC_ISO_DATE) + "%06d".format(buildDaysBack * 37 % 240000)
    }
    def displayVersion: String = appVersion + "b" + (client % 3 + 1)
  }

  /** A corpus: specs in file order, `files` equal slices of them, read
    * `filesPerTrigger` at a time by a stream.
    */
  final case class Layout(kind: String, seed: Long, size: Int, files: Int, filesPerTrigger: Int = 1) {
    def perFile: Int = size / files
    def perTrigger: Int = perFile * filesPerTrigger
    def triggers: Int = files / filesPerTrigger
    def key: String = s"$kind-s$seed-n$size-f$files-t$filesPerTrigger"
  }

  // ---- drawing -------------------------------------------------------

  private val Countries: Vector[String] = Vector(
    "US", "DE", "FR", "GB", "BR", "IN", "RU", "PL", "IT", "ES", "CA", "JP", "ID", "MX", "CN",
    "NL", "TR", "UA", "AU", "SE", "AR", "BE", "CH", "AT", "CZ", "RO", "HU", "VN", "KR", "ZA")
  /** Zipf-like weights (1/rank): a few countries carry most pings. */
  private val CountryCdf: Array[Double] = cdf(Countries.indices.map(r => 1.0 / (r + 1)))
  private val Channels = Vector("release" -> 0.6, "beta" -> 0.2, "nightly" -> 0.1, "aurora" -> 0.1)
  private val ChannelCdf = cdf(Channels.map(_._2))
  private val DesktopOs = Vector(("Windows_NT", "10.0"), ("Windows_NT", "6.1"), ("Darwin", "19.6.0"), ("Linux", "5.4"))
  private val Versions = Vector("115.0", "116.0", "117.0", "118.0")
  private val ExperimentPool = (1 to 12).map(i => s"exp-$i").toVector

  private def cdf(ws: Seq[Double]): Array[Double] = {
    val total = ws.sum
    ws.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private def pick(r: SplittableRandom, cdf: Array[Double]): Int = {
    val u = r.nextDouble()
    val i = cdf.indexWhere(u < _)
    if (i < 0) cdf.length - 1 else i
  }

  val WindowMillis: Long = 5 * 60 * 1000L
  val WatermarkDelayMillis: Long = 60 * 1000L
  /** Stream disorder stays well inside the watermark delay. */
  val MaxDisorderMillis: Long = 40 * 1000L
  /** Planted late envelopes trail the stream by this much: far past the watermark. */
  val LateByMillis: Long = 30 * 60 * 1000L

  /** First instant of the corpus: a window-aligned midnight that moves with the seed. */
  def baseMillis(seed: Long): Long =
    LocalDate.of(2026, 3, 1).plusDays(Math.floorMod(seed, 90L))
      .atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  def dateString(millis: Long): String =
    Instant.ofEpochMilli(millis).atZone(ZoneOffset.UTC).toLocalDate.format(DateTimeFormatter.BASIC_ISO_DATE)

  /** Doc-type mix and defect shares of each corpus kind. */
  private final case class Mix(main: Double, crash: Double, core: Double, event: Double,
                               malformed: Double, disallowed: Double, late: Double, disordered: Double) {
    require(math.abs(main + crash + core + event - 1) < 1e-9, "doc-type shares must sum to 1")
  }
  private val Mixes = Map(
    // mostly main pings; events are not aggregated, so they are absent
    "stream" -> Mix(0.82, 0.09, 0.09, 0.0, malformed = 0.01, disallowed = 0.03, late = 0.005, disordered = 0.3),
    // the 70/10/10/10 day of the daily batch loop
    "batch" -> Mix(0.70, 0.10, 0.10, 0.10, malformed = 0.01, disallowed = 0.03, late = 0.0, disordered = 0.0))

  /** Event-time span of one trigger: small enough that a planted late
    * envelope is behind the watermark of two triggers before it.
    */
  val StreamTriggerSpanMillis: Long = WindowMillis

  def spec(layout: Layout, index: Int): Spec = {
    val mix = Mixes(layout.kind)
    val r = new SplittableRandom(layout.seed * 0x9E3779B97F4A7C15L + index * 0xBF58476D1CE4E5B9L + 1)
    val u = r.nextDouble()
    val kind =
      if (u < mix.main) Main
      else if (u < mix.main + mix.crash) Crash
      else if (u < mix.main + mix.crash + mix.core) Core
      else Event
    val f = r.nextDouble()
    val flaw =
      if (f < mix.malformed) Malformed
      else if (kind == Main && f < mix.malformed + mix.disallowed) {
        r.nextInt(3) match { case 0 => BadDocType; case 1 => BadApp; case _ => BadChannel }
      } else NoFlaw

    val base = baseMillis(layout.seed)
    val trigger = index / layout.perTrigger
    val tsMillis = layout.kind match {
      case "stream" =>
        val nominal = base + (index.toLong * layout.triggers * StreamTriggerSpanMillis) / layout.size
        val late = trigger >= 3 && r.nextDouble() < mix.late
        if (late) nominal - LateByMillis - r.nextLong(WindowMillis)
        else if (r.nextDouble() < mix.disordered) nominal - r.nextLong(MaxDisorderMillis)
        else nominal
      case _ =>
        // one day; 3h..21h keeps every envelope inside its submission date
        base + 3 * 3600 * 1000L + r.nextLong(18 * 3600 * 1000L)
    }
    val (osName, osVersion) =
      if (kind == Core) ("Android", "1" + r.nextInt(4)) else DesktopOs(r.nextInt(DesktopOs.size))
    val nExp = kind match {
      case Core => 0
      case _    => Vector(0, 0, 1, 1, 1, 2, 2, 3, 4)(r.nextInt(9))
    }
    val experiments = (0 until nExp).map { _ =>
      ExperimentPool(r.nextInt(ExperimentPool.size)) -> (if (r.nextBoolean()) "control" else "treatment")
    }.toMap.toVector.sorted
    val normandy = kind match {
      case Main | Event if r.nextDouble() < 0.3 =>
        (0 until 1 + r.nextInt(2)).map { _ =>
          Normandy(if (r.nextDouble() < 0.7) "enroll" else "unenroll",
            ExperimentPool(r.nextInt(ExperimentPool.size)), if (r.nextBoolean()) "control" else "treatment")
        }.toVector
      case _ => Vector.empty
    }
    Spec(
      index = index,
      kind = kind,
      flaw = flaw,
      tsNanos = tsMillis * 1000000L + r.nextInt(1000000),
      country = Countries(pick(r, CountryCdf)),
      channel = Channels(pick(r, ChannelCdf))._1,
      buildDaysBack = r.nextInt(150),
      osName = osName,
      osVersion = osVersion,
      arch = if (kind == Core) "arm64-v8a" else if (r.nextDouble() < 0.8) "x86-64" else "x86",
      appVersion = Versions(r.nextInt(Versions.size)),
      client = r.nextInt(5000),
      experiments = experiments,
      subsessionSeconds = r.nextInt(90000),
      histogramCounts = Vector.fill(8)(if (r.nextDouble() < 0.3) r.nextInt(5) else 0),
      crashProcess = if (r.nextDouble() < 0.6) "main" else "content",
      startupCrash = r.nextDouble() < 0.2,
      shutdownKill = r.nextDouble() < 0.25,
      normandy = normandy,
      parentEvents = if (kind == Event) 1 + r.nextInt(6) else 0,
      contentEvents = if (kind == Event) r.nextInt(4) else 0)
  }

  def specs(layout: Layout): Vector[Spec] = Vector.tabulate(layout.size)(spec(layout, _))

  // ---- rendering -----------------------------------------------------

  private def obj(pairs: (String, JsonValue)*): JsonObject = JsonObject.of(pairs: _*)
  private def s(v: String): JsonValue = Json.str(v)
  private def n(v: Long): JsonValue = Json.num(v)
  private def countHist(v: Int): JsonValue = obj("values" -> obj("0" -> n(v)))

  private def application(sp: Spec): JsonValue = obj(
    "architecture" -> s(sp.arch), "buildId" -> s(sp.buildId), "channel" -> s(sp.channel),
    "name" -> s(sp.appName), "version" -> s(sp.appVersion), "displayVersion" -> s(sp.displayVersion))

  private def positional(ts: Long, category: String, method: String, obj: String,
                         value: Option[String], extra: Option[(String, String)]): JsonValue = {
    val tail = (value, extra) match {
      case (None, None)       => Nil
      case (v, None)          => Seq(v.map(s).getOrElse(JsonNull))
      case (v, Some((k, ev))) => Seq(v.map(s).getOrElse(JsonNull), JsonObject.of(k -> s(ev)))
    }
    Json.arr(Seq(n(ts), s(category), s(method), s(obj)) ++ tail: _*)
  }

  private def normandyEvents(sp: Spec): Vector[JsonValue] = sp.normandy.zipWithIndex.map { case (e, i) =>
    positional(1000L + i, "normandy", e.method, "preference_study", Some(e.experiment), Some("branch" -> e.branch))
  }

  def envelope(sp: Spec): Envelope = {
    val fields = mutable.LinkedHashMap[String, JsonValue](
      "clientId" -> s(s"client-${sp.client}"),
      "documentId" -> s(s"doc-${sp.index}"),
      "docType" -> s(sp.docType),
      "normalizedChannel" -> s(sp.normalizedChannel),
      "appName" -> s(sp.appName),
      "appVersion" -> s(sp.appVersion),
      "appBuildId" -> s(sp.buildId),
      "geoCountry" -> s(sp.country),
      "os" -> s(sp.osName),
      "sampleId" -> n(sp.client % 100),
      "submissionDate" -> s(sp.submissionDate))
    if (sp.kind != Core) {
      fields("environment.build") = s(obj("architecture" -> s(sp.arch), "buildId" -> s(sp.buildId),
        "version" -> s(sp.appVersion)).render)
      fields("environment.system") = s(obj("os" -> obj("name" -> s(sp.osName), "version" -> s(sp.osVersion)),
        "isWow64" -> JsonBool(false), "memoryMB" -> n(4096 + sp.client % 8 * 1024)).render)
      fields("environment.settings") = s(obj("locale" -> s("en-US"), "isDefaultBrowser" -> JsonBool(sp.client % 2 == 0)).render)
      fields("environment.profile") = s(obj("creationDate" -> n(17000 + sp.client % 900)).render)
      fields("environment.experiments") = s(JsonObject.of(
        sp.experiments.map { case (id, branch) => id -> (obj("branch" -> s(branch)): JsonValue) }: _*).render)
    }
    val payload: JsonValue = sp.kind match {
      case Main =>
        fields("payload.histograms") = s(JsonObject.of(
          Seq("BROWSER_SHIM_USAGE_BLOCKED", "PERMISSIONS_SQL_CORRUPTED", "DEFECTIVE_PERMISSIONS_SQL_REMOVED",
            "SLOW_SCRIPT_NOTICE_COUNT", "SLOW_SCRIPT_PAGE_COUNT").zip(sp.histogramCounts)
            .map { case (h, c) => h -> countHist(c) }: _*).render)
        fields("payload.keyedHistograms") = s(obj("SUBPROCESS_CRASHES_WITH_DUMP" -> obj(
          "gpu" -> countHist(sp.histogramCounts(5)), "plugin" -> countHist(sp.histogramCounts(6)),
          "gmplugin" -> countHist(sp.histogramCounts(7)))).render)
        fields("payload.simpleMeasurements") = s(obj("activeTicks" -> n(sp.subsessionSeconds / 5)).render)
        fields("payload.info") = s(obj("subsessionLength" -> n(sp.subsessionSeconds),
          "subsessionCounter" -> n(1 + sp.client % 4), "sessionId" -> s(s"session-${sp.client}"),
          "reason" -> s("shutdown")).render)
        obj("application" -> application(sp),
          "payload" -> obj("processes" -> obj("dynamic" -> obj("events" -> JsonArray(normandyEvents(sp))))))
      case Crash =>
        val metadata = Seq("StartupCrash" -> s(if (sp.startupCrash) "1" else "0")) ++
          (if (sp.shutdownKill) Seq("ipc_channel_error" -> s("ShutDownKill")) else Nil)
        obj("application" -> application(sp),
          "payload" -> obj("crashDate" -> s(sp.submissionDate), "processType" -> s(sp.crashProcess),
            "metadata" -> JsonObject.of(metadata: _*)))
      case Core =>
        obj("arch" -> s(sp.arch), "displayVersion" -> s(sp.displayVersion), "durations" -> n(sp.subsessionSeconds),
          "os" -> s(sp.osName), "osversion" -> s(sp.osVersion))
      case Event =>
        val parent = (0 until sp.parentEvents).map(i =>
          positional(100L * (i + 1), "browser", if (i % 2 == 0) "open" else "close", "tab", None, None))
        val content = (0 until sp.contentEvents).map(i =>
          positional(50L * (i + 1), "search", "execute", "urlbar", Some(s"v$i"), Some("engine" -> "ddg")))
        obj("application" -> application(sp),
          "payload" -> obj("reason" -> s("periodic"), "processStartTimestamp" -> n(sp.tsMillis - 60000),
            "sessionId" -> s(s"session-${sp.client}"), "subsessionId" -> s(s"sub-${sp.index}"),
            "lostEventsCount" -> n(0),
            "events" -> obj("parent" -> JsonArray(parent.toVector), "content" -> JsonArray(content.toVector),
              "dynamic" -> JsonArray(normandyEvents(sp)))))
    }
    Envelope(fields.toMap, sp.tsNanos, Some(payload.render))
  }

  def bytes(sp: Spec): Array[Byte] = {
    val b = envelope(sp).toBytes
    if (sp.flaw == Malformed) java.util.Arrays.copyOf(b, b.length * (40 + sp.client % 40) / 100) else b
  }

  // ---- expected outputs ----------------------------------------------

  /** Sums of the error aggregate over one 5-minute window. */
  final case class WindowSums(count: Long, mainCrashes: Long, contentCrashes: Long) {
    def +(o: WindowSums): WindowSums =
      WindowSums(count + o.count, mainCrashes + o.mainCrashes, contentCrashes + o.contentCrashes)
  }

  def windowStart(millis: Long): Long = millis - Math.floorMod(millis, WindowMillis)

  /** Rows one envelope adds to the error aggregate, by the job's
    * allow-lists: one per experiment plus the no-experiment row.
    */
  def errorAggRows(sp: Spec): Option[WindowSums] =
    if (sp.flaw != NoFlaw || sp.kind == Event) None
    else {
      val rows = if (sp.kind == Core) 1 else sp.experiments.size + 1
      val main = if (sp.kind == Crash && sp.crashProcess == "main") rows else 0
      val content = if (sp.kind == Crash && sp.crashProcess == "content" && !sp.shutdownKill) rows else 0
      Some(WindowSums(rows, main, content))
    }

  /** Expected streaming output: per window start, the sums over the
    * envelopes that are not behind the watermark, for every window the
    * final watermark closes. Trigger `t` reads files
    * `t * filesPerTrigger` until the next trigger's first file. A late envelope is dropped when its window has ended by
    * the watermark of the previous trigger; the generator only plants
    * envelopes whose fate is the same under the current and the
    * previous trigger's watermark, and checks that it is.
    */
  final case class StreamExpectation(windows: Map[Long, WindowSums], dropped: Int, rowsOut: Long)

  def expectStream(layout: Layout, specs: Vector[Spec]): StreamExpectation = {
    var maxTs = Long.MinValue
    var wmPrev = 0L   // watermark the trigger before this one ran with
    var wm = 0L       // watermark this trigger runs with
    val sums = mutable.Map.empty[Long, WindowSums]
    var dropped = 0
    var rowsOut = 0L
    specs.grouped(layout.perTrigger).foreach { batch =>
      batch.foreach { sp =>
        errorAggRows(sp).foreach { rows =>
          rowsOut += rows.count
          val end = windowStart(sp.tsMillis) + WindowMillis
          val lateNow = end <= wm
          val latePrev = end <= wmPrev
          require(lateNow == latePrev, s"envelope ${sp.index} has an ambiguous watermark fate")
          if (lateNow) dropped += 1
          else sums(windowStart(sp.tsMillis)) = sums.getOrElse(windowStart(sp.tsMillis), WindowSums(0, 0, 0)) + rows
        }
      }
      batch.iterator.filter(errorAggRows(_).isDefined).map(_.tsMillis).maxOption.foreach(m => maxTs = math.max(maxTs, m))
      wmPrev = wm
      if (maxTs != Long.MinValue) wm = math.max(wm, maxTs - WatermarkDelayMillis)
    }
    StreamExpectation(sums.filter { case (start, _) => start + WindowMillis <= wm }.toMap, dropped, rowsOut)
  }

  /** Expected outputs of the four daily jobs over one batch day. */
  final case class BatchExpectation(
      windows: Map[Long, WindowSums],
      eventRows: Long,
      eventRowsByProcess: Map[String, Long],
      enrolls: Long,
      unenrolls: Long,
      influxLines: Vector[String])

  private val osVersionPrefix = "(\\d+(\\.\\d+)?(\\.\\d+)?)?.*".r

  def influxLine(sp: Spec): String = {
    val osVersion = sp.osVersion match { case osVersionPrefix(v, _, _) if v != null => v; case _ => "" }
    val tags = Seq(
      "submissionDate" -> sp.submissionDate, "appVersion" -> sp.appVersion, "appName" -> sp.appName,
      "displayVersion" -> sp.displayVersion, "channel" -> sp.normalizedChannel, "country" -> sp.country,
      "osName" -> sp.osName, "osVersion" -> osVersion, "architecture" -> sp.arch, "buildIdTag" -> sp.buildId
    ).filter(_._2.nonEmpty)
    Batch.InfluxMeasurement + tags.map { case (k, v) => s"$k=$v" }.mkString(",", ",", " ") +
      s"buildId=${sp.buildId} ${sp.tsNanos}"
  }

  def expectBatch(specs: Vector[Spec]): BatchExpectation = {
    val windows = mutable.Map.empty[Long, WindowSums]
    specs.foreach { sp =>
      errorAggRows(sp).foreach { rows =>
        val w = windowStart(sp.tsMillis)
        windows(w) = windows.getOrElse(w, WindowSums(0, 0, 0)) + rows
      }
    }
    val parsed = specs.filter(_.flaw != Malformed)
    val events = parsed.filter(sp => sp.kind == Event && sp.flaw == NoFlaw)
    val byProcess = Map(
      "parent" -> events.map(_.parentEvents.toLong).sum,
      "content" -> events.map(_.contentEvents.toLong).sum,
      "dynamic" -> events.map(_.normandy.size.toLong).sum)
    // enrollment events: main and event pings of Firefox, any channel
    val normandy = parsed.filter(sp => (sp.kind == Main || sp.kind == Event) &&
      sp.docType != "modules" && sp.appName == "Firefox").flatMap(_.normandy)
    val lines = parsed.filter(sp => sp.kind == Crash && sp.appName == "Firefox" &&
      Set("release", "beta", "nightly").contains(sp.normalizedChannel)).map(influxLine)
    BatchExpectation(windows.toMap, byProcess.values.sum, byProcess,
      normandy.count(_.method == "enroll").toLong, normandy.count(_.method == "unenroll").toLong, lines)
  }
}
