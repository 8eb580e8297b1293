package graft.tools

import graft.operators.{Dedup, Sessionize, Similarity}
import org.apache.spark.sql.functions._

/** Streaming throughput measurement over the graft-synth DSv2 source —
  * the streaming-side complement to `graft.Bench` (which times batch
  * queries only). Each pipeline consumes a bounded deterministic
  * stream through `processAllAvailable` and reports end-to-end input
  * rows/sec at local[N], micro-batch overhead included, plus the
  * state-store footprint the run actually carried (from
  * `StreamingQueryProgress.stateOperators`: peak/final state rows,
  * peak reported state memory, total rows evicted):
  *
  *  - `source`:   source → project → noop sink (framework floor)
  *  - `window`:   source → 5-min tumbling windowed count (watermark
  *                1 min, append) — the reference's ErrorAggregator
  *                shape (BASELINE.md §A)
  *  - `session`:  source → flatMapGroupsWithState sessionization,
  *                50k-key churn-heavy profile (every event exceeds its
  *                user's gap → constant open/close/emit traffic)
  *  - `dedup`:    source → watermark-bounded dropDuplicates (50% dup
  *                key rate)
  *  - `curation`: source → text synthesis (50% duplicate docs) →
  *                [[graft.pipelines.CurationPipeline.curateStream]]
  *                (normalize → watermarked dedup → quality filter →
  *                hash split) — the full per-document stage chain
  *  - `span_dup`: source → 16-token doc synthesis (8-token boilerplate
  *                phrase from a 50-variant pool + 8 unique tokens) →
  *                [[Dedup.streamingSpanDups]] at windowTokens=8. Each
  *                doc contributes 9 window hashes; the boilerplate-only
  *                window recurs across docs (the dup signal), the 8
  *                unique-token windows are one-shot state that ONLY the
  *                event-time retention timeout can evict — state rows
  *                vs `retentionSeconds` is the eviction measurement.
  *  - `near_dup`: source → deterministic dim-8 vectors (offset/2 base →
  *                50% exact-dup rate) → [[Similarity.streamingNearDupPairs]]
  *                (hyperplane-bucketed stream-stream self-join, 4 planes
  *                × 2 tables, ±5 s pairing interval, cosine ≥ 0.9, pair
  *                dedup within watermark). Join + dedup state is
  *                watermark-bounded; the synth source's monotone event
  *                time (1 row = 1 s) makes the 1-min watermark the
  *                retention boundary.
  *
  * `GRAFT_ROCKSDB_STATE=1` swaps the state-store provider to RocksDB +
  * changelog checkpointing (same flag the jobs honor) for an A/B of
  * the state-store tax: HDFS keeps every key on heap, RocksDB spills
  * to local disk — the provider a 100 TB deployment needs once state
  * outgrows executor memory. `sessionKeys` sizes the sessionization /
  * dedup key space (state rows), the dial the tax depends on.
  *
  * Round 14 adds `near_dup_bucketed` (the same near-dup twin
  * restructured as bucket-keyed flatMapGroupsWithState — its rows/s
  * against `near_dup` reads directly as the state-layout win),
  * `funnel` (per-user ordered-step frontier, state bounded by user
  * cardinality plus the watermark buffer), and `retention` (per-user
  * cohort + new-week hits, the q122 twin, state bounded the same way).
  *
  * Usage: runMain graft.tools.StreamBench
  *   [totalRows] [rowsPerBatch] [sessionKeys] [retentionSeconds] [pipelines]
  * `pipelines` is an optional comma list (e.g. "span_dup,near_dup") —
  * the two twins amplify every input row (9 window hashes / 2·tables+
  * probes bucket rows), so they are typically run at a lower totalRows
  * than the per-row pipelines.
  * Prints one JSON line:
  *   {"rows":N,…,"pipelines":{name:{rows_per_sec,state_rows_peak,
  *    state_rows_final,state_mem_peak_bytes,rows_evicted,batches},…}}
  */
object StreamBench {
  final case class PipeStats(rowsPerSec: Double, stateRowsPeak: Long,
      stateRowsFinal: Long, stateMemPeak: Long, rowsEvicted: Long,
      batches: Int)

  def main(args: Array[String]): Unit = {
    val totalRows = if (args.length > 0) args(0).toLong else 2000000L
    val rowsPerBatch = if (args.length > 1) args(1).toLong else 250000L
    val sessionKeys = if (args.length > 2) args(2).toLong else 50000L
    val retentionSeconds = if (args.length > 3) args(3).toLong else 600L
    val only: Set[String] =
      if (args.length > 4) args(4).split(",").map(_.trim).toSet else Set.empty
    val rocksDb = graft.Sessions.rocksDbState(sys.env)
    val cpus = graft.Sessions.cpus(sys.env).toString
    val spark = graft.Sessions.queryPack("graft-streambench")
    graft.Sessions.rocksDbStateConfs(rocksDb).foreach { case (k, v) => spark.conf.set(k, v) }
    import spark.implicits._

    def source() = spark.readStream.format("graft-synth")
      .option("rowsPerBatch", rowsPerBatch.toString)
      .option("maxRows", totalRows.toString)
      .option("numPartitions", cpus)
      .load()

    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Option[(String, PipeStats)] = {
      if (only.nonEmpty && !only(name)) return None
      val ckpt = java.nio.file.Files.createTempDirectory(s"sb-$name").toString
      val t0 = System.nanoTime()
      val q = df.writeStream.format("noop")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // recentProgress keeps the last 100 batches — more than any run
      // here produces (totalRows/rowsPerBatch plus trailing empties)
      val progress = q.recentProgress.toSeq
      def stateRows(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        p.stateOperators.map(_.numRowsTotal).sum
      val withState = progress.filter(_.stateOperators.nonEmpty)
      val stats = PipeStats(
        rowsPerSec = totalRows / sec,
        stateRowsPeak = if (withState.isEmpty) 0L else withState.map(stateRows).max,
        stateRowsFinal = withState.lastOption.map(stateRows).getOrElse(0L),
        stateMemPeak = if (withState.isEmpty) 0L
          else withState.map(_.stateOperators.map(_.memoryUsedBytes).sum).max,
        rowsEvicted = withState.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum,
        batches = progress.count(_.numInputRows > 0))
      Some(name -> stats)
    }

    val results = Seq(
      time("source") {
        source().select($"offset", length($"value").as("n"))
      },
      time("window") {
        source().withWatermark("ts", "1 minute")
          .groupBy(window($"ts", "5 minutes"))
          .agg(count(lit(1)).as("n"))
          .select($"window.start".as("w"), $"n")
      },
      time("session") {
        Sessionize.streamingSessions(
          source().select(($"offset" % sessionKeys).as("user_id"), $"ts")
            .as[Sessionize.UserEvent],
          gapSeconds = 60L, watermarkDelay = "1 minute").toDF()
      },
      time("dedup") {
        source().withWatermark("ts", "1 minute")
          .select(($"offset" / 2L).cast("long").as("k"), $"ts")
          .dropDuplicatesWithinWatermark("k")
      },
      time("curation") {
        // synthesized documents: 50% exact-duplicate texts (offset/2
        // collapses pairs), enough tokens for the quality/normalize
        // passes to do real per-row work
        graft.pipelines.CurationPipeline.curateStream(
          source().select($"ts", concat(
            lit("the quick brown fox jumps over the lazy dog entry "),
            ($"offset" / 2L).cast("string")).as("text")),
          tsCol = "ts", watermarkDelay = "1 minute")
      },
      time("span_dup") {
        // 8 boilerplate tokens (one of 50 phrase variants) + 8 unique
        // tokens: window 0 is the recurring boilerplate hash, windows
        // 1..8 each contain a unique token and are seen exactly once —
        // pure retention-bound state
        val phrase = concat_ws(" ", (0 until 8).map(t =>
          concat(lit(s"bp${t}v"), ($"offset" % 50L).cast("string"))): _*)
        val uniq = concat_ws(" ", (0 until 8).map(t =>
          concat(lit(s"u${t}x"), $"offset".cast("string"))): _*)
        Dedup.streamingSpanDups(
          source().select($"offset".as("doc_id"),
            concat(phrase, lit(" "), uniq).as("text"), $"ts"),
          "doc_id", "text", "ts", windowTokens = 8,
          watermarkDelay = "1 minute",
          retentionSeconds = retentionSeconds).toDF()
      },
      time("near_dup") {
        // dim-8 deterministic vectors; offset/2 base → consecutive rows
        // are exact duplicates arriving 1 event-second apart (inside the
        // ±5 s pairing interval), non-dup cosines ~U(−1,1)·correlation
        // stay far below the 0.9 verify threshold
        val base = ($"offset" / 2L).cast("long")
        val emb = array((0 until 8).map(j =>
          ((pmod(hash(base, lit(j)).cast("long"), lit(2001L)) - 1000L)
            .cast("double") / 1000.0).cast("float")): _*)
        Similarity.streamingNearDupPairs(
          source().select($"offset".as("vid"), emb.as("emb"), $"ts"),
          "vid", "emb", "ts", watermarkDelay = "1 minute",
          intervalSeconds = 5L, threshold = 0.9)
      },
      time("near_dup_bucketed") {
        // identical corpus and dials to near_dup — the bucket-keyed
        // flatMapGroupsWithState restructure of the same twin, so the
        // rows/s ratio reads directly as the state-layout win
        val base = ($"offset" / 2L).cast("long")
        val emb = array((0 until 8).map(j =>
          ((pmod(hash(base, lit(j)).cast("long"), lit(2001L)) - 1000L)
            .cast("double") / 1000.0).cast("float")): _*)
        Similarity.streamingNearDupPairsBucketed(
          source().select($"offset".as("vid"), emb.as("emb"), $"ts"),
          "vid", "emb", "ts", watermarkDelay = "1 minute",
          intervalSeconds = 5L, threshold = 0.9).toDF()
      },
      time("retention") {
        // sessionKeys users, 1 event/s round-robin; weekSeconds shrunk
        // to 3600 so the bounded replay spans ~totalRows/3600 weekly
        // buckets — state = one cohort row per user + the trimmed
        // emitted-weeks list
        graft.operators.Retention.streamingRetention(
          source().select(($"offset" % sessionKeys).as("user_id"), $"ts"),
          "user_id", "ts", watermarkDelay = "1 minute",
          weekSeconds = 3600L).toDF()
      },
      time("anomaly") {
        // 8 event types, 1 event/s round-robin; daySeconds shrunk to
        // 3600 so the replay seals ~totalRows/(8·3600) buckets per type
        // — state = the trailing ≤ 7 (day, count) pairs per type, the
        // smallest envelope of any twin
        graft.operators.Anomaly.streamingAnomalies(
          source().select(concat(lit("t"), ($"offset" % 8L))
            .as("event_type"), $"ts"),
          "event_type", "ts", watermarkDelay = "1 minute",
          daySeconds = 3600L).toDF()
      },
      time("funnel") {
        // sessionKeys users cycling view → click → purchase → view …;
        // every third event advances a frontier, so state = one frontier
        // row per user + the in-flight buffer the watermark drains
        val step = when($"offset" % 3L === 0L, "view")
          .when($"offset" % 3L === 1L, "click").otherwise("purchase")
        graft.operators.Funnel.streamingFunnel(
          source().select(($"offset" % sessionKeys).as("user_id"),
            step.as("event_type"), $"ts"),
          "user_id", "event_type", "ts",
          steps = Seq("view", "click", "purchase"),
          watermarkDelay = "1 minute").toDF()
      }).flatten

    def r0(v: Double): Long = math.round(v)
    val js = results.map { case (k, s) =>
      s""""$k":{"rows_per_sec":${r0(s.rowsPerSec)},"state_rows_peak":${s.stateRowsPeak},"state_rows_final":${s.stateRowsFinal},"state_mem_peak_bytes":${s.stateMemPeak},"rows_evicted":${s.rowsEvicted},"batches":${s.batches}}"""
    }.mkString(",")
    println(s"""{"rows":$totalRows,"rows_per_batch":$rowsPerBatch,"cpus":$cpus,"session_keys":$sessionKeys,"retention_seconds":$retentionSeconds,"rocksdb":$rocksDb,"pipelines":{$js}}""")
    spark.stop()
  }
}
