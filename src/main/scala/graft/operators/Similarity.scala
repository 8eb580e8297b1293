package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers, same output schema (query_id, neighbor_id, rank, cosine):
  *  - [[bruteForceTopK]]: exact. Broadcast the (small) query set against
  *    the full corpus — a BroadcastNestedLoopJoin that streams the corpus
  *    once; no corpus shuffle. Correct baseline and recall oracle.
  *  - [[lshTopK]]: scale path. Both sides bucket by random-hyperplane
  *    sign pattern; candidates only meet within a bucket (shuffle keyed
  *    by bucket, each bucket ~n/2^planes of the corpus). Probing the
  *    query's bucket plus single-bit-flip neighbors trades recall for
  *    a tunable fan-out.
  */
object Similarity {

  /** Vector-validity guard for INDEX builds (k-means, PQ codebooks,
    * encode): non-null, exactly `dim` elements, every element non-null
    * and FINITE. NaN/Inf elements poison centroids and codebooks (one
    * NaN mean corrupts a whole cell), so builds drop such rows; the
    * exact legs still score them (to NaN cosines, which sort into
    * shortlists) and consumers guard there (mmrTopK's best<0 stop).
    */
  private def wellFormedVec(v: Column, dim: Int): Column =
    v.isNotNull && size(v) === dim &&
      !exists(v, x => x.isNull || isnan(x.cast("double")) ||
        abs(x.cast("double")) === Double.PositiveInfinity)

  /** Exact top-k neighbors per query by cosine. Ties broken by neighbor id
    * so results are fully deterministic.
    */
  def bruteForceTopK(
      queries: DataFrame,   // (query_id, embedding)
      corpus: DataFrame,    // (vec_id, embedding)
      k: Int): DataFrame = {
    // both sides unit-normalized once → cosine = one dot product per pair
    val q = broadcast(queries.select(col("query_id"),
      VectorFunctions.normalize(col("embedding")).as("q_emb")))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      VectorFunctions.normalize(col("embedding")).as("c_emb"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorFunctions.dot(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Multi-table LSH approximate top-k: `nTables` independent hyperplane
    * hash tables (disjoint plane families), each multi-probed (own bucket
    * + every 1-bit flip); a corpus vector is a candidate if it collides
    * with the query in ANY table — OR-amplification, the standard recall
    * repair when neighbors sit at low cosine (a single table's recall
    * decays like P(agree)^planes). Exact ranking over the candidate
    * union. Cost per query ≈ nTables · (nPlanes+1) · n / 2^nPlanes
    * comparisons; candidate generation carries ids only — vectors join
    * back for scoring.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nPlanes: Int = 6,
      nTables: Int = 4): DataFrame = {
    // Native one-pass bucketing: array of one bucket per table;
    // posexplode's position IS the table id.
    val cb = corpus.select(col("vec_id").as("neighbor_id"),
        posexplode(VectorFunctions.hyperplaneBuckets(col("embedding"), nPlanes, nTables)))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
    // Multi-probe per table: own bucket plus each 1-bit flip.
    val qProbes = queries.select(col("query_id"),
        posexplode(VectorFunctions.hyperplaneBuckets(col("embedding"), nPlanes, nTables)))
      .withColumnsRenamed(Map("pos" -> "table"))
      .select(col("query_id"), col("table"),
        explode(graft.functions.TextFunctions.bind(col("col")) { b =>
          (0 until nPlanes).foldLeft(array(b)) {
            (acc, bit) => array_append(acc, b.bitwiseXOR(lit(1L << bit)))
          }
        }).as("bucket"))
    val candidates = cb.join(broadcast(qProbes), Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      VectorFunctions.normalize(col("embedding")).as("c_emb"))
    val q = queries.select(col("query_id"),
      VectorFunctions.normalize(col("embedding")).as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates
      .join(c, "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine", VectorFunctions.dot(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Exact embedding-cosine near-duplicate pairs — the oracle twin of
    * [[cosineNearDupLsh]]. Quadratic: callers bound the input (an id
    * slice / one shard); the LSH variant is the corpus-scale path.
    */
  def cosinePairsExact(corpus: DataFrame, threshold: Double): DataFrame = {
    val normalized = corpus.select(col("vec_id"),
      VectorFunctions.normalize(col("embedding")).as("emb"))
    val a = normalized.select(col("vec_id").as("id_a"), col("emb").as("emb_a"))
    val b = normalized.select(col("vec_id").as("id_b"), col("emb").as("emb_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.dot(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Approximate embedding near-dup via multi-table hyperplane-bucket
    * self-join with single-bit multi-probe. Few planes per table on
    * purpose: near-dup thresholds are low-cosine, so single-table recall
    * falls fast with hash length; OR-amplification across tables repairs
    * it. Candidates only meet inside (multi-probed) same-table buckets —
    * linear-ish in corpus size instead of quadratic.
    */
  def cosineNearDupLsh(corpus: DataFrame, threshold: Double,
                       nPlanes: Int = 4, nTables: Int = 2): DataFrame = {
    val bucketed = corpus.select(col("vec_id"),
        VectorFunctions.normalize(col("embedding")).as("emb"),
        posexplode(VectorFunctions.hyperplaneBuckets(col("embedding"), nPlanes, nTables)))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
    val probes = (0 until nPlanes).foldLeft(array(col("bucket"))) {
      (acc, bit) => array_append(acc, col("bucket").bitwiseXOR(lit(1L << bit)))
    }
    // The unit-normalized vectors ride THROUGH the bucket join and the
    // cosine verifies in-join, so the candidate stream (n·bucketSize·
    // tables·probes rows — ~6e8 at 200k vectors) is evaluated inside one
    // codegen stage and NEVER shuffled. The shuffle this plan pays is the
    // join INPUT — n·tables·(probes+1) vector rows, linear in the corpus.
    // The ids-only alternative (dedup candidates, re-join vectors twice)
    // shuffles the candidate stream itself: bucketSize/“bytes of a vector
    // over bytes of an id-pair” ≈ 5× more bytes at the default dials, and
    // its vector re-joins stop broadcasting once the corpus passes the
    // broadcast threshold (measured at 200k vectors: SCALING.md).
    val a = bucketed.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
      col("table"), explode(probes).as("bucket"))
    val b = bucketed.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
      col("table"), col("bucket"))
    // Parallelism guard: the join has at most nTables·2^nPlanes distinct
    // keys, and when the dial is small relative to the corpus (the q28
    // hand-dial replay: 32 keys at 200k vectors) the sort-merge join is
    // key-bound — every bucket is uniformly huge, so AQE's skew split
    // never fires (no partition deviates from the median) and the tail
    // runs on one core per key. Slice the join S ways: the UNPROBED side
    // `b` (1 row per vec×table) is replicated to every slice and the
    // probe side `a` keyed by hash(id_a)%S — each (x,y) pair still meets
    // exactly once per (table, probed bucket), at slice(x), so the
    // candidate count and output are unchanged while the key space grows
    // S×. Replicating `b` rather than `a` ships (probes+1)× fewer
    // duplicated vector rows through the exchange (`a` carries a row per
    // probe). The auto-dialed path already has keys ≫ partitions and
    // computes S=1 (plan untouched).
    val (aS, bS, joinKeys) =
      slicedBucketJoin(a, b, "id_a", nTables.toLong << nPlanes, corpus)
    aS.join(bS, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.dot(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      // survivors ≈ the answer set (×≤ tables·probes duplicates) — the
      // dedup shuffle is on thousands of rows, not the candidate stream
      .dropDuplicates("id_a", "id_b")
  }

  /** Parallelism-guard slicing shared by [[cosineNearDupLsh]] and
    * [[cosineNearDupLshIdsOnly]] (the two are spec'd pairs-identical, so
    * the slice formula lives in one place): when the (table, bucket) key
    * space is small relative to the cluster, the probe side keys by
    * hash(probe id) % S and the unprobed side replicates to every slice
    * — each pair still meets exactly once, at slice(probe id), so the
    * output is invariant while the join key space grows S×. S = 1 (plan
    * untouched) whenever keys already exceed ~4× the shuffle
    * parallelism.
    */
  private def slicedBucketJoin(a: DataFrame, b: DataFrame, probeIdCol: String,
      keySpace: Long, corpus: DataFrame): (DataFrame, DataFrame, Seq[String]) = {
    val parallelism =
      corpus.sparkSession.sessionState.conf.numShufflePartitions.toLong
    val slices =
      math.min(64L, math.max(1L, (4L * parallelism) / math.max(1L, keySpace))).toInt
    if (slices <= 1) (a, b, Seq("table", "bucket"))
    else (
      a.withColumn("slice", pmod(hash(col(probeIdCol)), lit(slices))),
      b.withColumn("slice",
        explode(array((0 until slices).map(lit(_)): _*))),
      Seq("table", "bucket", "slice"))
  }

  /** Plane count that keeps expected bucket occupancy near
    * `targetBucketSize`: buckets must GROW with the corpus or the
    * per-bucket self-join turns quadratic. Measured on the 10× scale
    * smoke: 20k vectors in 4-plane (16-bucket) tables cost 40× the 2k
    * run; 8-plane tables restore ~linear cost (SCALING.md).
    */
  def planesForCorpus(corpusSize: Long, targetBucketSize: Long = 128): Int = {
    // Integer-safe ceil(log2(ceil(n/target))): identical values to the
    // floating form (no power of 2 lies strictly between x and ceil(x)),
    // but immune to libm ulp differences when n/target lands exactly on a
    // power of two — the cross-engine q80 replay derives the same np from
    // pure integer comparisons.
    val m = math.max(1L, (corpusSize + targetBucketSize - 1) / targetBucketSize)
    var np = 0
    while ((1L << np) < m) np += 1
    math.max(2, np)
  }

  /** Ids-only twin of [[cosineNearDupLsh]] — same candidate rule
    * (multi-probed same-table bucket collision), same output, different
    * bytes discipline: the bucket join carries (id, table, bucket) rows
    * only, candidate PAIRS dedup as 16-byte id rows, and the vectors
    * join back once per side for the exact-cosine verify. The exchange
    * trade vs the vector-carrying path is ≈ targetBucketSize/dim: the
    * candidate-dedup shuffle costs ~16 B × bucketSize per input row
    * where the vector-carrying join input costs ~8 B × dim per input
    * row — so this variant wins when the embedding dimension exceeds
    * the bucket occupancy (dim ≫ 128 at the default dials: the 768-dim
    * regime of real text encoders), and loses at dim 64.
    * [[cosineNearDupLshAuto]] picks between the two from those
    * estimates; recall is IDENTICAL by construction (spec'd
    * pairs-equal), so the choice is pure bytes routing.
    */
  def cosineNearDupLshIdsOnly(corpus: DataFrame, threshold: Double,
                              nPlanes: Int = 4, nTables: Int = 2): DataFrame = {
    val keyed = corpus.select(col("vec_id"),
        posexplode(VectorFunctions.hyperplaneBuckets(col("embedding"), nPlanes, nTables)))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
    val probes = (0 until nPlanes).foldLeft(array(col("bucket"))) {
      (acc, bit) => array_append(acc, col("bucket").bitwiseXOR(lit(1L << bit)))
    }
    val a = keyed.select(col("vec_id").as("id_a"),
      col("table"), explode(probes).as("bucket"))
    val b = keyed.select(col("vec_id").as("id_b"), col("table"), col("bucket"))
    // same parallelism guard as the vector-carrying path (shared
    // helper — the two paths are spec'd pairs-identical, so the slice
    // formula must stay pinned together)
    val (aS, bS, joinKeys) =
      slicedBucketJoin(a, b, "id_a", nTables.toLong << nPlanes, corpus)
    val candidates = aS.join(bS, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val vecs = corpus.select(col("vec_id"),
      VectorFunctions.normalize(col("embedding")).as("emb"))
    candidates
      .join(vecs.select(col("vec_id").as("id_a"), col("emb").as("emb_a")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("emb").as("emb_b")), Seq("id_b"))
      .withColumn("cosine", VectorFunctions.dot(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Per-node shuffle budget the auto path sizes its dials against.
    * Default 48 GB: under the measured single-node death (the 2M-vector
    * default-dial run spilled a ~66 GB probe-side exchange past this
    * host's free disk — SCALING.md "LSH near-dup at 2M") and above the
    * config that completed (45 GB peak). On a real cluster the budget is
    * aggregate executor scratch space / executors; callers pass it.
    */
  val DefaultLshShuffleBudgetBytes: Long = 48L << 30

  /** Estimated bytes entering the vector-carrying bucket-join exchange:
    * n·tables·(probes+1 a-side rows + 1 b-side row) of (8·dim + ~40 B
    * of ids/keys/row overhead). Calibrated against the measured 66 GB
    * at n=2M, dim=64, 14 planes, 4 tables (515 B/row observed).
    */
  def lshProbeExchangeBytes(n: Long, dim: Int, nPlanes: Int, nTables: Int): Long =
    n * nTables * (nPlanes + 2L) * (8L * dim + 40L)

  /** Estimated bytes through the ids-only path's exchanges: thin
    * (id, table, bucket) join inputs plus the candidate-pair dedup
    * stream (~bucketSize candidates of 16 B per probe row).
    */
  def lshIdsOnlyExchangeBytes(n: Long, nPlanes: Int, nTables: Int,
                              targetBucketSize: Long): Long =
    n * nTables * ((nPlanes + 2L) * 24L + targetBucketSize * (nPlanes + 1L) * 8L)

  /** Largest table count ≤ `requested` whose estimated vector-carrying
    * exchange fits `budgetBytes` (floor 1). Fewer tables = less
    * OR-amplification = lower recall at a given threshold — the same
    * banding trade the nTables dial always expressed, now derived from
    * a byte budget instead of discovered via a dead executor.
    */
  def tablesForShuffleBudget(n: Long, dim: Int, nPlanes: Int,
                             requested: Int, budgetBytes: Long): Int = {
    var t = requested
    while (t > 1 && lshProbeExchangeBytes(n, dim, nPlanes, t) > budgetBytes) t -= 1
    t
  }

  /** [[cosineNearDupLsh]] with every dial derived: the plane count from
    * the corpus size ([[planesForCorpus]]) and the table count / row
    * layout from a SHUFFLE-BYTE BUDGET — the round-10 2M-vector run died
    * on exactly this (default nTables=4 → ~66 GB probe-side exchange >
    * one node's free disk), so nothing in the API derived dials from
    * bytes until now. Policy, in order:
    *
    *  1. vector-carrying at the requested tables fits the budget → run
    *     it unchanged (small corpora land here; behavior identical to
    *     the pre-budget API).
    *  2. it doesn't, but the ids-only layout at the SAME tables does →
    *     [[cosineNearDupLshIdsOnly]]: identical candidates and pairs
    *     (spec'd), so recall is preserved and only bytes move — the
    *     dim ≫ bucketSize regime.
    *  3. neither fits → clamp tables on whichever layout estimates
    *     cheaper ([[tablesForShuffleBudget]]): linear volume must fit
    *     the node, and fewer OR-tables is the one dial that sheds bytes
    *     proportionally. This IS a recall trade; callers with more disk
    *     raise `shuffleByteBudget` instead.
    *
    * Longer hashes lower per-table recall, so OR-amplification should
    * rise with them: pass nTables ≈ 4–8 for 8+ planes (recall per table
    * for a pair at cosine c is (1 − acos(c)/π)^nPlanes before
    * multi-probe; tables OR together).
    */
  def cosineNearDupLshAuto(corpus: DataFrame, threshold: Double,
                           nTables: Int = 4, targetBucketSize: Long = 128,
                           shuffleByteBudget: Long = DefaultLshShuffleBudgetBytes): DataFrame = {
    val n = corpus.count()
    val np = planesForCorpus(n, targetBucketSize)
    val dim =
      if (n == 0) 0
      else corpus.select(size(col("embedding"))).head().getInt(0)
    val vecBytes = lshProbeExchangeBytes(n, dim, np, nTables)
    val idsBytes = lshIdsOnlyExchangeBytes(n, np, nTables, targetBucketSize)
    if (vecBytes <= shuffleByteBudget)
      cosineNearDupLsh(corpus, threshold, np, nTables)
    else if (idsBytes <= shuffleByteBudget)
      cosineNearDupLshIdsOnly(corpus, threshold, np, nTables)
    else if (vecBytes <= idsBytes)
      cosineNearDupLsh(corpus, threshold, np,
        tablesForShuffleBudget(n, dim, np, nTables, shuffleByteBudget))
    else {
      var t = nTables
      while (t > 1 &&
        lshIdsOnlyExchangeBytes(n, np, t, targetBucketSize) > shuffleByteBudget) t -= 1
      cosineNearDupLshIdsOnly(corpus, threshold, np, t)
    }
  }

  /** Streaming embedding near-duplicate pairs — the hyperplane-LSH twin
    * of [[graft.operators.Dedup.streamingNearDupPairs]] (MinHash). Each
    * arriving vector's (table, bucket) keys join against other vectors'
    * buckets within `intervalSeconds` of event time: a watermarked
    * stream-stream self-join, so each side buffers only rows younger
    * than watermark + interval and state is bounded by recent traffic,
    * not stream history. One side multi-probes (hamming ≤ 1), matching
    * the batch candidate rule exactly; survivors verify with the exact
    * cosine (stateless) and pairs dedup across tables inside the same
    * watermark bound.
    *
    * Bytes discipline: state carries the unit-normalized vector
    * (8·dim B) per table row — the ×nTables (+probes on one side)
    * amplification multiplies a fixed-width array, the same tradeoff the
    * MinHash twin documents for shingle-hash sets. An ids-only variant
    * would re-join candidates to the vector stream twice (two more
    * stateful joins); worth it only for very high dim × table counts.
    */
  def streamingNearDupPairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      tsCol: String,
      watermarkDelay: String,
      intervalSeconds: Long,
      threshold: Double,
      nPlanes: Int = 4,
      nTables: Int = 2): DataFrame = {
    // buckets from the RAW vector (projection signs are scale-invariant,
    // identical to the batch path); verification on the normalized form
    def side(p: String, probe: Boolean): DataFrame = {
      val bucketed = vectors.select(
          col(idCol).as(s"${p}_id"), col(tsCol).as(s"${p}_ts"),
          VectorFunctions.normalize(col(vecCol)).as(s"${p}_emb"),
          posexplode(VectorFunctions.hyperplaneBuckets(col(vecCol), nPlanes, nTables)))
        .withColumnsRenamed(Map("pos" -> s"${p}_table", "col" -> s"${p}_bucket"))
      val probed =
        if (!probe) bucketed
        else {
          val probes = (0 until nPlanes).foldLeft(array(col(s"${p}_bucket"))) {
            (acc, bit) => array_append(acc, col(s"${p}_bucket").bitwiseXOR(lit(1L << bit)))
          }
          bucketed.select(col(s"${p}_id"), col(s"${p}_ts"), col(s"${p}_emb"),
            col(s"${p}_table"), explode(probes).as(s"${p}_bucket"))
        }
      probed.withWatermark(s"${p}_ts", watermarkDelay)
    }
    val a = side("a", probe = true)
    val b = side("b", probe = false)
    // ONLY equi-keys + the event-time range in the join condition: any
    // other inequality (id ordering, the cosine threshold) aborts
    // StreamingJoinHelper's state-watermark extraction and the join
    // buffers forever (the state-shrink spec pins this). Orientation and
    // verification run above the join, behind the stateful pair-dedup,
    // which blocks predicate pushdown back into the join.
    a.join(b,
        col("a_table") === col("b_table") && col("a_bucket") === col("b_bucket") &&
          col("b_ts") >= col("a_ts") - expr(s"INTERVAL $intervalSeconds SECONDS") &&
          col("b_ts") <= col("a_ts") + expr(s"INTERVAL $intervalSeconds SECONDS"))
      .select(
        least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"),
        // orientation-invariant pair timestamp, computed BEFORE the
        // stateful dedup: which orientation/collision survives the dedup
        // is run-order dependent, so a_ts alone would be nondeterministic
        least(col("a_ts"), col("b_ts")).as("pair_ts"),
        col("a_ts"), col("a_emb"), col("b_emb"))
      // same pair collides in several tables/probes and arrives in both
      // orientations; pair state GC'd with the same watermark bound
      // (a_ts stays in scope as the watermarked event-time column)
      .dropDuplicatesWithinWatermark(Seq("id_a", "id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("cosine", VectorFunctions.dot(col("a_emb"), col("b_emb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"),
        col("pair_ts").as("ts_a"), round(col("cosine"), 6).as("cosine"))
  }

  final case class BucketedVec(id: Long, tsMs: Long, emb: Array[Double],
                               homes: Array[Long], table: Int, bucket: Long,
                               ts: java.sql.Timestamp)
  final case class BucketResident(id: Long, tsMs: Long, emb: Array[Double],
                                  homes: Array[Long])
  final case class BucketState(entries: Seq[BucketResident])
  final case class StreamNearDup(id_a: Long, id_b: Long,
                                 ts_a: java.sql.Timestamp, cosine: Double)

  /** [[streamingNearDupPairs]] restructured as BUCKET-KEYED state — the
    * batch path's layout held in `flatMapGroupsWithState` instead of a
    * stream-stream join. Same candidate rule (per table, hamming ≤ 1
    * between home buckets — one-sided multi-probe), same exact-cosine
    * verify, same retention (a resident pairs with arrivals within
    * `intervalSeconds` of event time; eviction at watermark − interval).
    *
    * Why it beats the join at throughput: the symmetric hash join writes
    * per-ROW state on both sides every trigger and the cross-table pair
    * dedup is a second stateful operator — the measured RocksDB wall
    * (SCALING.md round 13: 127 rows/s, state writes dominant). Here each
    * (table, bucket) group does ONE state get + ONE put per trigger
    * regardless of how many rows land in it, and cross-table/probe
    * dedup is STRUCTURAL — a pair is emitted only from its canonical
    * group: the minimum qualifying table t*, bucket = min of the two
    * home buckets at t* (for hamming 1 exactly two groups hold the
    * pair; for hamming 0 the home group plus probe groups — the rule
    * picks one in both cases), so no dedup state exists at all.
    *
    * Each vector resides (with its normalized embedding + per-table
    * home buckets) in its home bucket and its nPlanes hamming-1 probe
    * buckets per table — the same ×tables·(probes+1) amplification the
    * join twin's probe side pays.
    */
  def streamingNearDupPairsBucketed(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      tsCol: String,
      watermarkDelay: String,
      intervalSeconds: Long,
      threshold: Double,
      nPlanes: Int = 4,
      nTables: Int = 2): org.apache.spark.sql.Dataset[StreamNearDup] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import vectors.sparkSession.implicits._
    val intervalMs = intervalSeconds * 1000L
    val probesPerBucket = (0 until nPlanes).toArray
    val banded = vectors
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).cast("long").as("id"),
        (col(tsCol).cast("double") * 1000).cast("long").as("tsMs"),
        VectorFunctions.normalize(col(vecCol)).as("emb"),
        VectorFunctions.hyperplaneBuckets(col(vecCol), nPlanes, nTables)
          .as("homes"),
        col(tsCol).as("ts"))
      // residency: home + the nPlanes hamming-1 flips, per table
      .select(col("id"), col("tsMs"), col("emb"), col("homes"), col("ts"),
        posexplode(col("homes")))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "home"))
      .select(col("id"), col("tsMs"), col("emb"), col("homes"), col("table"),
        explode(array(col("home") +: probesPerBucket.toSeq.map(b =>
          col("home").bitwiseXOR(lit(1L << b))): _*)).as("bucket"),
        col("ts"))
      .as[BucketedVec]

    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    def update(key: (Int, Long), rows: Iterator[BucketedVec],
               state: GroupState[BucketState]): Iterator[StreamNearDup] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val (table, bucket) = key
        val wm = state.getCurrentWatermarkMs()
        var entries = state.getOption.map(_.entries).getOrElse(Seq.empty)
          .filter(_.tsMs >= wm - intervalMs)
        val out = Seq.newBuilder[StreamNearDup]
        rows.toSeq.sortBy(r => (r.tsMs, r.id)).foreach { r =>
          entries.foreach { c =>
            if (c.id != r.id && math.abs(c.tsMs - r.tsMs) <= intervalMs) {
              // canonical group: minimum table where the pair qualifies
              // (hamming ≤ 1 between HOME buckets), bucket = min home
              var tStar = -1
              var t = 0
              while (tStar < 0 && t < nTables) {
                if (hamming(r.homes(t), c.homes(t)) <= 1) tStar = t
                t += 1
              }
              if (tStar == table &&
                  bucket == math.min(r.homes(tStar), c.homes(tStar))) {
                var cos = 0.0
                var i = 0
                while (i < r.emb.length) { cos += r.emb(i) * c.emb(i); i += 1 }
                if (cos >= threshold)
                  out += StreamNearDup(math.min(r.id, c.id),
                    math.max(r.id, c.id),
                    new java.sql.Timestamp(math.min(r.tsMs, c.tsMs)),
                    round6(cos))
              }
            }
          }
          entries = entries :+ BucketResident(r.id, r.tsMs, r.emb, r.homes)
        }
        if (entries.isEmpty) state.remove()
        else {
          state.update(BucketState(entries))
          state.setTimeoutTimestamp(
            math.max(entries.map(_.tsMs).max + intervalMs, wm + 1))
        }
        out.result().iterator
      }
    }

    banded.groupByKey(r => (r.table, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Per-label centroid statistics — the IVF coarse-quantizer building
    * block (k-means assignment step = argmin distance to these centroids).
    */
  def labelCentroids(corpus: DataFrame, dim: Int): DataFrame = {
    val perDim = (0 until dim).map(i =>
      avg(element_at(col("embedding"), i + 1).cast("double")).as(s"c$i"))
    corpus.groupBy(col("label")).agg(perDim.head, perDim.tail: _*)
  }

  /** Centroid vectors per cell (label = the coarse-quantizer assignment).
    * One native vector_avg aggregate — a double[dim+1] buffer with
    * associative partial merge — instead of dim separate avg(element_at)
    * aggregate expressions; at a billion vectors per build the shuffle
    * carries 8·(dim+1) bytes per (cell × partition) either way, but the
    * per-row update is one tight loop, not dim aggregate evaluations.
    *
    * Malformed vectors (wrong length, or any null element) are dropped
    * BEFORE aggregating: vector_avg's poison semantics would otherwise
    * null the whole cell centroid, and a null centroid feeding
    * [[ivfTopK]]'s broadcast centroid table breaks probe ranking. The
    * old avg(element_at) construction silently skipped such rows
    * per-dimension; filtering keeps that robustness with one pass.
    */
  def centroidVectors(corpus: DataFrame, dim: Int): DataFrame =
    corpus
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === dim &&
        !exists(col("embedding"), _.isNull))
      .groupBy(col("label")).agg(
        VectorFunctions.vectorAvg(col("embedding"), dim).as("centroid"))

  /** Product quantization (the FAISS-style memory-compression leg of the
    * ANN family, next to [[ivfTopK]]'s cell routing and q64's int8
    * scalar quantization): the vector splits into `nSub` contiguous
    * subspaces and each subvector is replaced by the index of its
    * nearest sub-codebook centroid (L2, lowest index on ties) — storage
    * drops from dim doubles to nSub small ints per vector. The codebook
    * here is the label-cell centroid table ([[centroidVectors]], the
    * same coarse structure q38/q85 rank against), sliced per subspace:
    * averaging is per-dimension, so a full-dim centroid's subspace slice
    * IS the subspace centroid of its cell.
    *
    * Emits codes (the compressed form) AND `recon`, the concatenated
    * sub-centroid reconstruction — asymmetric-distance scoring (ADC)
    * against a raw query is exactly scoring against `recon`.
    *
    * Scale shape: the codebook is bounded (cells × dim doubles — the
    * k-means literal rule) and enters the plan as ONE literal array;
    * encoding is a pure map-side fold per subspace (no join, no
    * shuffle, nothing corpus-sized to the driver).
    */
  def pqEncode(corpus: DataFrame, dim: Int, nSub: Int): DataFrame = {
    require(nSub > 0 && dim % nSub == 0, s"nSub must divide dim, got $dim/$nSub")
    val sub = dim / nSub
    val cents = centroidVectors(corpus, dim).orderBy(col("label"))
      .collect() // bounded: one row per label cell (the k-means literal rule)
      .map(r => r.getSeq[Double](1).toArray)
    require(cents.nonEmpty, "empty codebook: corpus has no valid embeddings")
    // per-dimension averaging means a full-dim centroid's subspace slice
    // IS that cell's subspace centroid — slice once here, share the core
    val books = Array.tabulate(nSub)(s =>
      cents.map(_.slice(s * sub, (s + 1) * sub)))
    pqEncodeWith(corpus, dim, books)
  }

  /** Encode + reconstruct against EXPLICIT per-subspace codebooks
    * ([nSub][k][subDim]) — the core [[pqEncode]] (label books) and
    * [[pqTopKTrained]] (k-means books) share. Map-side only; books ride
    * the plan as one literal. */
  def pqEncodeWith(corpus: DataFrame, dim: Int,
                   books: Array[Array[Array[Double]]]): DataFrame = {
    val nSub = books.length
    require(nSub > 0 && dim % nSub == 0, s"books must partition dim $dim")
    val sub = dim / nSub
    require(books.forall(b => b.nonEmpty && b.forall(_.length == sub)),
      "every codebook entry must be subspace-sized")
    val kPer = books.head.length
    require(books.forall(_.length == kPer), "codebooks must share one size")
    val booksLit = array(books.map(b =>
      array(b.map(c => array(c.map(lit): _*)): _*)): _*)
    val valid = corpus.filter(wellFormedVec(col("embedding"), dim))
    import graft.functions.TextFunctions.bind
    // argmin_c ||x_s − c||² = argmax_c (x_s·c − ||c||²/2): appending a
    // constant 1.0 coordinate to the subvector and −||c||²/2 to each
    // codebook entry turns the subspace argmin into ONE native
    // `cell_argmax` per subspace (codegen'd tight loop, first-index
    // ties) — the interpreted HOF fold this replaces measured 265 s for
    // a 5-iteration 20k-vector codebook build. Ordering DECISIONS are
    // identical (strict comparisons, lowest index on ties); the oracle
    // replays the d² form and the two agree wherever margins clear the
    // noise band (AnnOracleMarginSpec pins that they do).
    val booksAug: Seq[Seq[Seq[Double]]] = books.map(_.map(c =>
      (c :+ (-0.5 * c.map(x => x * x).sum)).toSeq).toSeq).toSeq
    val codesExpr = bind(transform(col("embedding"), _.cast("double"))) { e =>
      array((0 until nSub).map { s =>
        org.apache.spark.sql.graft.VectorExpressions.cellArgmax(
          concat(slice(e, s * sub + 1, sub), array(lit(1.0))),
          typedlit(booksAug(s)))
      }: _*)
    }
    valid.withColumn("codes", codesExpr)
      .withColumn("recon", pqReconstruct(col("codes"), books))
  }

  /** Decode PQ codes back to the concatenated codebook centroids — the
    * reconstruction an ADC scorer dots the query against. Books ride the
    * plan as one literal; pure per-row array work (no shuffle). Shared by
    * [[pqEncodeWith]] (which materializes `recon` next to the codes) and
    * [[ivfPqTopK]]'s ADC stage (which reconstructs on the fly so the
    * INDEX stores only the codes — the compressed layout that is PQ's
    * entire point). */
  private[graft] def pqReconstruct(
      codes: Column, books: Array[Array[Array[Double]]]): Column = {
    val booksLit = array(books.map(b =>
      array(b.map(c => array(c.map(lit): _*)): _*)): _*)
    flatten(transform(sequence(lit(0), lit(books.length - 1)), s =>
      element_at(element_at(booksLit, s + 1),
        element_at(codes, s + 1) + 1)))
  }

  /** Train per-subspace PQ codebooks: Euclidean Lloyd's over SUBVECTORS,
    * `kPerSub` centroids each — the real FAISS-style codebook build
    * (the label books of [[pqEncode]] are the replayable stand-in).
    * Deterministic: seeds are the kPerSub lowest-id vectors' subvectors;
    * assignment ties go to the lowest code; empty codes keep their
    * previous centroid.
    *
    * Scale shape per iteration: ONE training-set pass — codes for all
    * subspaces are a single map-side projection against the literal
    * books, the update explodes to (s, code, subvector) fixed-width rows
    * and aggregates with [[VectorFunctions.vectorAvg]] (nSub·kPerSub
    * groups). Books live on the driver (nSub·kPerSub·subDim doubles —
    * the k-means literal rule); nothing corpus-sized collects.
    *
    * Like [[kMeans]], codebooks are ESTIMATED, so training runs on a
    * bounded deterministic sample (256·kPerSub rows — 256 subvectors
    * per code in every subspace, the same density rule): `iterations`
    * full-corpus passes were the linear-but-5× tax on every PQ build;
    * the caller's ENCODE pass still covers every vector. Same
    * hash-threshold sample and Int.MaxValue escape as kMeans.
    */
  def pqTrainCodebooks(corpus: DataFrame, dim: Int, nSub: Int,
                       kPerSub: Int, iterations: Int = 5,
                       trainSampleCap: Int = -1): Array[Array[Array[Double]]] = {
    require(nSub > 0 && dim % nSub == 0 && kPerSub > 0 && iterations > 0)
    require(trainSampleCap == -1 || trainSampleCap >= kPerSub,
      "trainSampleCap must be -1 (auto) or at least kPerSub")
    val sub = dim / nSub
    val allValid = corpus.filter(wellFormedVec(col("embedding"), dim))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("_e"))
    val cap = if (trainSampleCap == -1) trainCapForCells(kPerSub) else trainSampleCap
    val nVecs = allValid.count()
    val valid = {
      if (nVecs <= cap) allValid
      else {
        val m = 1L << 24
        val thresh = math.max(1L, (m.toDouble * cap.toDouble / nVecs.toDouble).toLong)
        allValid.filter(pmod(xxhash64(col("vec_id")), lit(m)) < lit(thresh))
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seeds keep the pre-sampling contract: the kPerSub lowest-id CORPUS
    // vectors (one TakeOrdered pass), independent of iteration sampling
    val seeds = allValid.orderBy(col("vec_id")).limit(kPerSub).collect()
      .map(_.getSeq[Double](1).toArray)
    require(seeds.length == kPerSub, s"corpus has fewer than $kPerSub vectors")
    var books: Array[Array[Array[Double]]] = Array.tabulate(nSub)(s =>
      seeds.map(_.slice(s * sub, (s + 1) * sub)))
    var it = 0
    while (it < iterations) {
      val enc = pqEncodeWith(valid.select(col("vec_id"), col("_e").as("embedding")),
        dim, books)
      val updated = enc.select(posexplode(col("codes")).as(Seq("s", "code")),
          col("embedding"))
        .withColumn("_sv", slice(col("embedding"), col("s") * sub + 1, lit(sub)))
        .groupBy(col("s"), col("code"))
        .agg(VectorFunctions.vectorAvg(col("_sv"), sub).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
      books = Array.tabulate(nSub)(s => books(s).zipWithIndex.map { case (old, c) =>
        updated.getOrElse((s, c), old)
      })
      it += 1
    }
    valid.unpersist(false)
    books
  }

  /** PQ ANN with TRAINED codebooks and exact re-ranking — the production
    * IVF-PQ search shape: ADC over the compressed corpus shortlists
    * `candidates` per query, raw vectors re-rank the shortlist exactly.
    * Measured on the 20k-vector corpus: nSub=16 × kPerSub=64 (16 bytes
    * per vector, 32× compression at dim 64) reaches recall@10 ≈ 0.9 with
    * 100-candidate re-rank (AnnOracleMarginSpec records the gate).
    * Engine-side path (spec-gated, like semanticDedupAuto); the
    * SQL-replayable oracle twin is [[pqTopK]]/q104.
    *
    * Scale shape: shortlist = broadcast queries streamed over the
    * map-side-reconstructed corpus (per-partition top-C before the
    * exchange); the re-rank join touches |queries|·candidates rows only.
    */
  def pqTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int,
                    dim: Int, nSub: Int = 16, kPerSub: Int = 64,
                    candidates: Int = 100, iterations: Int = 5): DataFrame = {
    val books = pqTrainCodebooks(corpus, dim, nSub, kPerSub, iterations)
    val enc = pqEncodeWith(corpus, dim, books)
      .select(col("vec_id"), col("recon").as("embedding"))
    val shortlist = bruteForceTopK(queries, enc, candidates)
      .select(col("query_id"), col("neighbor_id"))
    val raw = corpus.select(col("vec_id").as("neighbor_id"),
      VectorFunctions.normalize(col("embedding")).as("c_emb"))
    val qn = broadcast(queries.select(col("query_id"),
      VectorFunctions.normalize(col("embedding")).as("q_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    shortlist.join(raw, Seq("neighbor_id")).join(qn, Seq("query_id"))
      .withColumn("cosine", VectorFunctions.dot(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** PQ ANN: exact top-k against the PQ-RECONSTRUCTED corpus — the
    * asymmetric-distance (ADC) search FAISS runs over PQ codes, here
    * expressed as [[bruteForceTopK]] over `recon` (raw query vs
    * quantized candidates; scoring against recon is algebraically the
    * per-subspace codebook table lookup). Approximate relative to q23
    * exactly insofar as quantization moves vectors — the deterministic
    * codes make the whole pipeline SQL-replayable.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             dim: Int, nSub: Int): DataFrame =
    bruteForceTopK(queries,
      pqEncode(corpus, dim, nSub)
        .select(col("vec_id"), col("recon").as("embedding")), k)

  /** Lloyd's k-means over unit-normalized embeddings (cosine ≡ dot on
    * the unit sphere) — the real coarse-quantizer BUILD for [[ivfTopK]]
    * (whose `label` column is the assignment this produces).
    *
    * Scale shape per iteration: centroids live on the driver (k × dim
    * doubles — tiny by the cells ≈ √n rule) and enter the plan as
    * literals, so assignment is a map-side argmax of k dot products (no
    * join, no row blowup); the update step is ONE [[VectorFunctions
    * .vectorAvg]] hash aggregate (k groups × dim-sized buffers). Nothing
    * proportional to the corpus ever reaches the driver or shuffles —
    * per iteration the wire carries k·dim·partitions partial sums.
    *
    * Deterministic: seeds are the k lowest-id vectors with
    * near-duplicate directions skipped (see the seeding comment), ties
    * in the argmax break to the lowest cell id, and empty cells keep
    * their previous centroid. (Like any floating-point k-means,
    * assignments of points equidistant to ulps may differ across
    * partitionings — the callers' clusters should be separated, which
    * is what a coarse quantizer assumes anyway.)
    *
    * Returns (assignments: (idCol, cell), centroids: cell → vector).
    * The centroid array may be SHORTER than k when the corpus holds
    * fewer than k distinct directions — callers size probe counts from
    * `centroids.length`.
    */
  /** Map-side cell assignment against driver-held centroids: argmax of
    * dot(v, centroid), ties to the lowest cell id. Centroids enter the
    * plan as ONE array-of-arrays literal consumed by the native
    * `cell_argmax` expression — a composed form (array_max over k
    * struct(dot, −cell) entries) puts k struct expressions in the plan,
    * and with k ≈ √n the Janino compile time came to dominate the whole
    * index build (measured: 69 s of a 20k-vector build). Assignment is
    * pure map work: no join, no shuffle, no row blowup. `v` must already
    * be unit-normalized when the centroids are (cosine ≡ dot on the
    * unit sphere).
    */
  def assignCells(v: Column, centroids: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.VectorExpressions.cellArgmax(
      v, typedlit(centroids.map(_.toSeq).toSeq))

  /** Estimated serialized bytes of the centroid matrix as a PLAN
    * LITERAL: 16 B per double — measured 14 B/element Java-serializing
    * the nested-Seq Literal (boxed Doubles + per-row array objects;
    * 447 cells × dim 64 = 408 KB for 229 KB of raw doubles), rounded up
    * to err toward the broadcast route. The literal is re-embedded in
    * EVERY stage that assigns cells and deserialized per task, which is
    * what the budget bounds. */
  def centroidLiteralBytes(nCells: Int, dim: Int): Long =
    nCells.toLong * dim * 16L

  /** Literal budget above which centroid routing moves from a plan
    * literal to a broadcast variable: 1 MiB keeps the sf10-scale build
    * (447 cells × dim 64 ≈ 0.44 MiB estimated) on the zero-machinery
    * literal and flips the 2M-vector auto build (√2M ≈ 1414 cells ≈
    * 1.4 MiB) to broadcast — the boundary SCALING.md's literal-bytes
    * paragraph named. */
  val DefaultPlanLiteralBudgetBytes: Long = 1L << 20

  /** [[assignCells]] with the literal-vs-broadcast route decided by the
    * estimated literal bytes: under `budgetBytes` the matrix enters the
    * plan as one literal (zero extra machinery, the k ≈ √n default for
    * corpora into the hundreds of thousands); past it the matrix ships
    * as a Spark broadcast — bytes once per EXECUTOR instead of a
    * multi-MiB task binary deserialized per task. Scoring is
    * bit-identical either way (spec'd in BroadcastRoutingSpec).
    */
  def assignCellsAuto(v: Column, centroids: Array[Array[Double]],
                      sc: org.apache.spark.SparkContext,
                      budgetBytes: Long = DefaultPlanLiteralBudgetBytes): Column = {
    val dim = if (centroids.isEmpty) 0 else centroids(0).length
    if (centroidLiteralBytes(centroids.length, dim) <= budgetBytes)
      assignCells(v, centroids)
    else
      org.apache.spark.sql.graft.VectorExpressions.cellArgmaxBroadcast(
        v, sc.broadcast(centroids))
  }

  /** Training-sample budget for [[kMeans]]: 256 vectors per centroid is
    * the standard quantizer-training density (FAISS trains IVF coarse
    * quantizers on 30–256 points/centroid); beyond it the centroid
    * estimate's variance is sampling-noise-bounded, not data-bounded, so
    * extra rows buy recall nothing while each k-means iteration pays for
    * them. */
  def trainCapForCells(k: Int): Int =
    math.min(256L * k, Int.MaxValue.toLong).toInt

  /** Spherical k-means with SAMPLE-trained centroids — the scale-safe
    * quantizer build. Centroid ESTIMATION needs only a bounded sample
    * (≈256 rows per centroid, [[trainCapForCells]]): iterating over all
    * n vectors against k ≈ √n centroids costs n^1.5 per iteration — the
    * one super-linear build edge in the IVF family (measured: the 2M
    * full-trained build, SCALING.md) — while a capped sample holds
    * per-iteration cost at 256·k² = O(n). The LAST update pass runs over
    * the FULL corpus (warm-start refinement: one Lloyd's step from the
    * sample-converged positions snaps every centroid to its true cell
    * mean — the sample's estimation noise was worth 1.5–2 recall points
    * on the adversarial 2M corpus, and neither doubling the sample nor
    * +26% probes recovered it; the refinement pass does), and the final
    * ASSIGNMENT pass scans everything once — so a sampled build totals
    * ~2 full passes + O(n) iteration work, linear in n regardless of
    * `iterations`.
    *
    * The training sample is deterministic and id-decorrelated: rows with
    * `xxhash64(id) mod M < M·cap/n` (ids often correlate with content —
    * crawl time, source — so an id-prefix sample would train on a biased
    * slice). When the corpus fits the cap, training runs on all of it
    * and the build is EXACTLY the pre-sampling behavior. Pass
    * `trainSampleCap = Int.MaxValue` to force full-corpus training (the
    * recall-parity A/B in KMeansSampleSpec); `-1` selects the auto cap.
    */
  def kMeans(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      iterations: Int,
      planLiteralBudgetBytes: Long = DefaultPlanLiteralBudgetBytes,
      trainSampleCap: Int = -1)
      : (DataFrame, Array[Array[Double]]) = {
    require(k > 0 && iterations > 0)
    require(trainSampleCap == -1 || trainSampleCap >= k,
      "trainSampleCap must be -1 (auto) or at least k")
    // drop malformed vectors (null, wrong length, null/non-finite
    // element) BEFORE normalizing: one dirty row would otherwise
    // surface as a null cell in the update collect (NPE on r.getInt —
    // cellArgmax over all-NaN dots yields null) or a poisoned seed
    // centroid
    val normalized = corpus
      .filter(wellFormedVec(col(vecCol), dim))
      .select(col(idCol), VectorFunctions.normalize(col(vecCol)).as("_v"))
    // bounded training set (see scaladoc): one column-pruned count
    // decides whether sampling applies — it REPLACES `iterations` full
    // corpus passes, it does not add to them. The hash-threshold filter
    // is a map-side predicate (no shuffle, no single-partition gather),
    // so the sample materializes in one distributed pass and is cached
    // for the iteration loop.
    val cap = if (trainSampleCap == -1) trainCapForCells(k) else trainSampleCap
    val nVecs = normalized.count()
    val train = {
      if (nVecs <= cap) normalized
      else {
        val m = 1L << 24
        val thresh = math.max(1L, (m.toDouble * cap.toDouble / nVecs.toDouble).toLong)
        normalized.filter(
          pmod(xxhash64(col(idCol)), lit(m)) < lit(thresh))
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seeds: the k lowest-id CORPUS vectors (a one-pass TakeOrdered —
    // seed choice is part of the build's deterministic contract and
    // stays fixed whether or not iteration sampling engages; measured on
    // the 2M rotated-replica corpus, moving seeds into the hash sample
    // scattered them across the rotation shards and cost 4 recall
    // points at unchanged probes), SKIPPING near-duplicate
    // directions (cosine > 0.9999 to an already-kept seed, scanned over
    // a 4k id-ordered oversample). Duplicate seeds are provably wasted
    // cells — two identical centroids fragment one near-dup family
    // across arbitrary cells (ties to the lowest), starve coverage
    // elsewhere, and turn the probe ranking into copies of one
    // direction (a measured recall cliff on planted-family corpora).
    // When the data holds fewer distinct directions than k, the
    // quantizer is exactly as large as the data supports (centroids
    // may come back SHORTER than k — callers size probes from
    // centroids.length). Deterministic: id order, strict-greater skip.
    val sampleSize = math.max(4 * k, 256)
    val sample = normalized.orderBy(col(idCol)).limit(sampleSize).collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.length >= k, s"corpus has fewer than $k vectors")
    def dotv(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var centroids: Array[Array[Double]] = {
      val seeds = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      var i = 0
      while (i < sample.length && seeds.length < k) {
        val v = sample(i)
        if (!seeds.exists(s => dotv(s, v) > 0.9999)) seeds += v
        i += 1
      }
      seeds.toArray
    }

    def assignExpr: Column = assignCellsAuto(col("_v"), centroids,
      corpus.sparkSession.sparkContext, planLiteralBudgetBytes).as("cell")

    var it = 0
    while (it < iterations) {
      // warm-start refinement: when sampling is engaged, the LAST
      // update pass runs over the FULL corpus — Lloyd's final step from
      // the sample-converged positions snaps every centroid to its true
      // cell mean, recovering the estimation noise the sample leaves
      // (measured on the adversarial 2M rotated-replica corpus:
      // sample-only 0.975/0.980 recall@10 at 256/512 rows per centroid
      // vs full-trained 0.995 — the refined build closes the gap at
      // ~2 full passes total instead of `iterations`). Under the cap
      // train IS the corpus, so behavior is bit-identical there.
      val iterSource =
        if (it == iterations - 1 && nVecs > cap) normalized else train
      val assigned = iterSource.withColumn("cell", assignExpr)
      val updated = assigned.groupBy(col("cell"))
        .agg(VectorFunctions.vectorAvg(col("_v"), dim).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      // re-normalize updated means back onto the unit sphere (spherical
      // k-means update); empty cells keep their previous centroid
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        updated.get(i) match {
          case Some(m) =>
            val n = math.sqrt(m.map(x => x * x).sum)
            if (n == 0.0) old else m.map(_ / n)
          case None => old
        }
      }
      it += 1
    }
    train.unpersist(false)
    // the ONE full-corpus pass: assignment of every vector to its cell
    (normalized.withColumn("cell", assignExpr).select(col(idCol), col("cell")),
      centroids)
  }

  /** IVF-style ANN: rank cells by query-to-centroid similarity, search
    * only the top `nProbes` cells exactly. The centroid table is tiny
    * (one row per cell) so probe selection is a broadcast cross join; the
    * corpus-side join is an equi-join on the cell id — per query only
    * |probed cells| / |cells| of the corpus is ever scored, which is the
    * property that holds at 100 TB (cells ≈ √n via k-means in a real
    * deployment; here the label column is the assignment).
    */
  /** Cell count for an IVF build — the same latent dial
    * [[planesForCorpus]] fixed for hyperplane LSH: a FIXED cell count
    * makes per-cell scan cost grow linearly with the corpus (quadratic
    * total). nCells ≈ √n balances the two probe-time terms (rank nCells
    * centroids + scan nProbes·n/nCells candidates), so both grow as √n.
    */
  def cellsForCorpus(corpusSize: Long, minCells: Int = 2): Int =
    math.max(minCells, math.round(math.sqrt(corpusSize.toDouble)).toInt)

  /** Probe count for an auto-built index: √nCells keeps the scanned
    * corpus fraction at nProbes/nCells = n^(-1/4) — recall falls slowly
    * with n and stays repairable by raising this dial explicitly.
    */
  def probesForCells(nCells: Int): Int =
    math.max(2, math.ceil(math.sqrt(nCells.toDouble)).toInt)

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              dim: Int, nProbes: Int = 2,
              centroidsOverride: Option[DataFrame] = None): DataFrame = {
    // default: per-label means of the raw embeddings (the oracle-
    // replayable twin). A caller that already BUILT the quantizer (the
    // kMeans path) passes its exact centroids instead — probe ranking
    // must score against the geometry the cells were built around, and
    // recomputing means of raw vectors would both pay an extra corpus
    // aggregate and, under heterogeneous norms, rank probes against
    // directions the spherical build never used.
    val cells = centroidsOverride.getOrElse(centroidVectors(corpus, dim))
    val q = queries.select(col("query_id"),
      VectorFunctions.normalize(col("embedding")).as("q_emb"))
    val probeRank = Window.partitionBy(col("query_id"))
      .orderBy(col("centroid_sim").desc, col("label").asc)
    val probed = q.crossJoin(broadcast(cells))
      .withColumn("centroid_sim", VectorFunctions.cosine(col("q_emb"), col("centroid")))
      .withColumn("probe_rank", row_number().over(probeRank))
      .filter(col("probe_rank") <= nProbes)
      .select(col("query_id"), col("q_emb"), col("label"))
    val c = corpus.select(col("label"), col("vec_id").as("neighbor_id"),
      VectorFunctions.normalize(col("embedding")).as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    c.join(broadcast(probed), Seq("label"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorFunctions.dot(col("q_emb"), col("c_emb")))
      // drop both vectors BEFORE the rank window: the per-query
      // hash exchange then moves (query_id, neighbor_id, cosine) —
      // 24 B/row instead of 2 × dim × 8 B (≈ 40× at dim 64; pinned by
      // QueryPlanSpec's no-vectors-in-exchange check)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** IVF ANN with a k-means coarse quantizer AUTO-sized to the corpus:
    * nCells = [[cellsForCorpus]] (≈ √n), nProbes = [[probesForCells]]
    * (≈ ⁴√n) unless overridden. This is the production build path — the
    * `label`-cell [[ivfTopK]] is the oracle-replayable twin whose
    * quantizer the testdata fixes.
    *
    * Build cost: `iterations` k-means passes (map-side assignment
    * against literal centroids + one vector_avg aggregate each), then a
    * map-side relabel — the corpus is never shuffled or joined to build
    * the index. Driver holds nCells × dim doubles (√n·dim — at a billion
    * 64-dim vectors ≈ 16 MB, the point where a real deployment moves
    * centroids from plan literals to a broadcast table).
    */
  def ivfTopKAuto(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                  iterations: Int = 5, nProbesOverride: Int = 0,
                  planLiteralBudgetBytes: Long = DefaultPlanLiteralBudgetBytes)
      : DataFrame = {
    val nCells = cellsForCorpus(corpus.count())
    val (_, centroids) = kMeans(corpus, "vec_id", "embedding", nCells, dim,
      iterations, planLiteralBudgetBytes)
    val nProbes =
      if (nProbesOverride > 0) nProbesOverride else probesForCells(centroids.length)
    val relabeled = corpus.select(col("vec_id"), col("embedding"),
      assignCellsAuto(VectorFunctions.normalize(col("embedding")), centroids,
        corpus.sparkSession.sparkContext, planLiteralBudgetBytes).as("label"))
    // hand ivfTopK the spherical centroids the cells were built around
    // (skips a full-corpus re-aggregate and keeps probe geometry
    // aligned with the quantizer)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cellDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("label", "centroid")
    ivfTopK(queries, relabeled, k, dim, nProbes, Some(cellDf))
  }

  /** Incremental IVF ingest — the vector-side mirror of
    * [[Dedup.appendToIndex]]: route each ARRIVING vector map-side to its
    * nearest cell of a FROZEN quantizer (same (cosine DESC, label ASC)
    * rule the probe ranking uses, so routing and probing agree on the
    * geometry) and emit rows in the served index's (vec_id, embedding,
    * label) layout for the caller to union/append. Cost ∝ batch: the
    * standing corpus is never re-read, re-shuffled, or re-clustered, and
    * the quantizer is bit-identical before and after the append —
    * retraining is a separate, drift-TRIGGERED event (q140's centroid
    * drift signal is the trigger), not an ingest side effect.
    *
    * @param batch new arrivals (`vec_id`, `embedding`)
    * @param cells the frozen quantizer (`label`, `centroid`) — e.g.
    *              [[centroidVectors]] of the base corpus at build time
    */
  def ivfAssignFrozen(batch: DataFrame, cells: DataFrame,
                      dim: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("centroid_sim").desc, col("label").asc)
    batch
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === dim &&
        !exists(col("embedding"), _.isNull))
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.normalize(col("embedding")).as("b_emb"))
      .crossJoin(broadcast(cells))
      .withColumn("centroid_sim",
        VectorFunctions.cosine(col("b_emb"), col("centroid")))
      // project the centroid away BEFORE the per-vector rank window —
      // the exchange moves (vec_id, embedding, label, sim), not
      // batch × nCells centroid copies
      .select(col("vec_id"), col("embedding"), col("label"),
        col("centroid_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("label"))
  }

  /** IVF serve over a base index plus an incremental batch: freeze the
    * base quantizer ([[centroidVectors]] over the base alone — the
    * batch must not perturb routing), [[ivfAssignFrozen]] the batch,
    * union into the index, and answer with [[ivfTopK]] against the
    * frozen centroids. The composition q145 gates: appended vectors are
    * findable immediately, and every base vector's cell — and therefore
    * every pre-existing query answer's candidate set — is untouched.
    */
  def ivfIncrementalTopK(queries: DataFrame, base: DataFrame,
                         batch: DataFrame, k: Int, dim: Int,
                         nProbes: Int = 2): DataFrame = {
    val cells = centroidVectors(base, dim)
    val index = base.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(ivfAssignFrozen(batch, cells, dim))
    ivfTopK(queries, index, k, dim, nProbes, Some(cells))
  }

  /** IVF-PQ index build — the FAISS production composition: a k-means
    * coarse quantizer routes queries to cells ([[ivfTopKAuto]]'s build)
    * and PQ codes compress the vectors INSIDE each cell ([[
    * pqTrainCodebooks]]'s build), so the searchable index is
    * (cell, id, nSub one-byte codes) — ~16 bytes/vector at dim 64 —
    * while query cost is cells-probed × cell size instead of n (q104's
    * flat-ADC gap: its scan touches all n codes).
    *
    * Returns (index, centroids, books). The index DataFrame is what a
    * deployment persists once and serves from; centroids and books are
    * driver-held literals (nCells·dim + nSub·kPerSub·subDim doubles —
    * the k-means literal rule) that re-enter each query's plan.
    *
    * Build cost: `iterations` k-means passes + `iterations` codebook
    * passes + one map-side encode/relabel scan — the corpus is never
    * shuffled or joined to build the index.
    *
    * `residual` guidance (from the bracketed A/Bs in SCALING.md): at
    * the candidates/n operating rule plain and residual TIE on both
    * measured geometries (the tie is routing-bound — no code refinement
    * buys back an unprobed cell), and residual pays ~2.5× build / ~2×
    * query, so the default stays plain. Flip `residual = true` when
    * BOTH hold: the embedding geometry is anisotropic (real text-encoder
    * manifolds; measured +7.5 recall pts there) AND the candidate
    * budget must run below the candidates/n rule (memory-capped
    * shortlists) — on isotropic corpora residual LOSES the starved
    * regime (−8 pts), so geometry, not just budget, decides.
    */
  def ivfPqIndex(corpus: DataFrame, dim: Int, nSub: Int = 16,
                 kPerSub: Int = 64, iterations: Int = 5,
                 nCellsOverride: Int = 0,
                 residual: Boolean = false,
                 planLiteralBudgetBytes: Long = DefaultPlanLiteralBudgetBytes)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val nCells =
      if (nCellsOverride > 0) nCellsOverride else cellsForCorpus(corpus.count())
    val (_, centroids) = kMeans(corpus, "vec_id", "embedding", nCells, dim,
      iterations, planLiteralBudgetBytes)
    val sc = corpus.sparkSession.sparkContext
    if (!residual) {
      val books = pqTrainCodebooks(corpus, dim, nSub, kPerSub, iterations)
      val index = pqEncodeWith(corpus, dim, books).select(
        assignCellsAuto(VectorFunctions.normalize(col("embedding")), centroids,
          sc, planLiteralBudgetBytes).as("cell"),
        col("vec_id").as("neighbor_id"),
        col("codes"))
      (index, centroids, books)
    } else {
      // RESIDUAL encoding — the FAISS IVFPQ refinement: codebooks learn
      // unit(x) − centroid(cell) instead of x. Residual mass is the
      // within-cell spread (≪ the corpus spread the plain books must
      // cover), so the same nSub·kPerSub code budget spends its
      // resolution where the routing already localized the vector — a
      // recall lift at IDENTICAL index bytes (A/B'd in IvfPqSpec and
      // SCALING.md's "Residual IVF-PQ" sections). Same map-side shape: cell + residual
      // are one projection against the centroid literal; the CELL comes
      // from the original unit vector, codes from the residual. The
      // argmax honors the literal budget (broadcast past it); the
      // SUBTRACTION's element_at lookup stays a literal — residual is
      // the A/B'd non-default whose budget boundary a deployment that
      // adopts it would extend with a centroid-lookup expression.
      import graft.functions.TextFunctions.bind
      val centLit = typedlit(centroids.map(_.toSeq).toSeq)
      // same validity guard pqEncodeWith applies, BEFORE the argmax
      // (cellArgmax must never see a malformed vector)
      val res = corpus
        .filter(wellFormedVec(col("embedding"), dim))
        .select(col("vec_id"),
        bind(VectorFunctions.normalize(col("embedding"))) { u =>
          bind(assignCellsAuto(u, centroids, sc, planLiteralBudgetBytes)) { cell =>
            struct(cell.as("cell"),
              zip_with(u, element_at(centLit, cell + 1), (a, b) => a - b).as("r"))
          }
        }.as("cr"))
        .select(col("vec_id"), col("cr.cell").as("cell"),
          col("cr.r").as("embedding"))
      val books = pqTrainCodebooks(res, dim, nSub, kPerSub, iterations)
      val index = pqEncodeWith(res, dim, books)
        .select(col("cell"), col("vec_id").as("neighbor_id"), col("codes"))
      (index, centroids, books)
    }
  }

  /** IVF-PQ query against a built index: rank cells by query·centroid
    * (broadcast cross join — one row per cell), ADC-score ONLY the top
    * `nProbes` cells' codes (reconstruct-on-the-fly against the literal
    * books, so the index side stays codes-only), shortlist `candidates`
    * per query, then re-rank the shortlist exactly against raw vectors.
    *
    * Scale shape: the ADC stage is an equi-join on cell id — per query
    * only nProbes/nCells of the corpus is ever decoded or scored (at
    * auto dials that fraction is n^(-1/4)); the exact re-rank touches
    * |queries|·candidates rows via a broadcast of the shortlist streamed
    * map-side over the raw corpus (no corpus shuffle anywhere in the
    * query path).
    */
  def ivfPqQuery(queries: DataFrame, index: DataFrame, rawCorpus: DataFrame,
                 centroids: Array[Array[Double]],
                 books: Array[Array[Array[Double]]], k: Int,
                 candidates: Int = 100, nProbesOverride: Int = 0,
                 residual: Boolean = false): DataFrame = {
    val nProbes = if (nProbesOverride > 0) nProbesOverride
                  else probesForCells(centroids.length)
    val spark = queries.sparkSession
    import spark.implicits._
    val cellDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    val q = queries.select(col("query_id"),
      VectorFunctions.normalize(col("embedding")).as("q_emb"))
    val probeRank = Window.partitionBy(col("query_id"))
      .orderBy(col("centroid_sim").desc, col("cell").asc)
    val probed = q.crossJoin(broadcast(cellDf))
      .withColumn("centroid_sim", VectorFunctions.dot(col("q_emb"), col("centroid")))
      .withColumn("probe_rank", row_number().over(probeRank))
      .filter(col("probe_rank") <= nProbes)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val adcW = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    // residual index: the stored codes encode unit(x) − centroid(cell),
    // so the ADC reconstruction adds the cell centroid back (one
    // zip_with against the same literal the probe ranking used)
    val centLit = typedlit(centroids.map(_.toSeq).toSeq)
    def reconX = if (!residual) pqReconstruct(col("codes"), books)
      else zip_with(element_at(centLit, col("cell") + 1),
        pqReconstruct(col("codes"), books), (a, b) => a + b)
    val shortlist = index.join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", VectorFunctions.cosine(col("q_emb"), reconX))
      .withColumn("_sl", row_number().over(adcW))
      .filter(col("_sl") <= candidates)
      .select(col("query_id"), col("neighbor_id"))
    val raw = rawCorpus.select(col("vec_id").as("neighbor_id"),
      VectorFunctions.normalize(col("embedding")).as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    raw.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", VectorFunctions.dot(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** One-call IVF-PQ ANN: [[ivfPqIndex]] + [[ivfPqQuery]]. The
    * production ANN shape when neither the raw vectors nor a flat code
    * scan fits the serving budget — routing bounds WORK per query
    * (nProbes/nCells of the corpus), PQ bounds BYTES per vector (nSub
    * codes), and the exact re-rank pins quality to the shortlist's
    * recall. q104 ([[pqTopK]]) stays the SQL-replayable flat-ADC twin;
    * this path is spec-gated by recall floor (IvfPqSpec) and measured
    * in SCALING.md's "IVF-PQ composition" decade rows.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                nSub: Int = 16, kPerSub: Int = 64, candidates: Int = 100,
                iterations: Int = 5, nCellsOverride: Int = 0,
                nProbesOverride: Int = 0, residual: Boolean = false,
                planLiteralBudgetBytes: Long = DefaultPlanLiteralBudgetBytes)
      : DataFrame = {
    val (index, centroids, books) =
      ivfPqIndex(corpus, dim, nSub, kPerSub, iterations, nCellsOverride,
        residual, planLiteralBudgetBytes)
    ivfPqQuery(queries, index, corpus, centroids, books, k,
      candidates, nProbesOverride, residual)
  }

  /** The IVF-PQ shortlist leg for retrieval COMPOSITIONS ([[mmrTopK]],
    * hybrid retrieval): same (query_id, neighbor_id, rank, cosine)
    * contract as [[bruteForceTopK]] — exact re-ranked cosines over an
    * ANN-selected id set — so downstream fusion/greedy stages are
    * arithmetic-identical and only the SHORTLIST membership can differ
    * (by 1 − recall, gated in the planted specs). This is the
    * production default at corpus scale: the brute leg scans 100% of
    * the corpus per query batch, this leg touches nProbes/nCells of it
    * (n^(-1/4) at auto dials). Dials adapt so the leg stays total on
    * small inputs: nSub = largest divisor of dim ≤ 16 (subvectors must
    * tile the dimension), kPerSub ≤ n (codebooks can't have more
    * entries than vectors), candidates = max(100, 2·shortlistSize).
    * The index is rebuilt per call — a serving deployment builds
    * [[ivfPqIndex]] once and closes over it with the same signature.
    */
  val annShortlist: (DataFrame, DataFrame, Int) => DataFrame =
    (queries, corpus, shortlistSize) => {
      val dim = corpus.select(size(col("embedding"))).first().getInt(0)
      val n = corpus.count()
      val nSub = (math.min(16, dim) to 1 by -1).find(dim % _ == 0).get
      val kPerSub = math.min(64L, n).toInt
      ivfPqTopK(queries, corpus, shortlistSize, dim, nSub, kPerSub,
        candidates = math.max(100, 2 * shortlistSize))
    }

  /** Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein,
    * SIGIR'98): greedily pick k of a relevance shortlist, each pick
    * maximizing λ·rel(d) − (1−λ)·max_{s∈picked} sim(d, s) — the
    * standard de-redundancy step between retrieval and a context window
    * (a plain top-k hands an LLM five copies of the same passage; MMR
    * trades relevance for coverage). Deterministic: strict-greater
    * wins, exact score ties break to the lower id; sim and rel are
    * cosines on unit vectors.
    *
    * Scale shape: the only corpus-sized work is the shortlist — a
    * PLUGGABLE leg defaulting to [[annShortlist]] (IVF-PQ: per-query
    * work n^(-1/4) of the corpus at auto dials); q110's oracle twin
    * passes [[bruteForceTopK]] explicitly (exact, SQL-replayable, scans
    * 100%). Any leg honoring the (query_id, neighbor_id, rank, cosine)
    * exact-cosine contract substitutes — the greedy arithmetic below is
    * IDENTICAL either way, only shortlist membership differs (by
    * 1 − recall, gated in MmrSpec's planted test). The greedy loop is
    * inherently sequential per query but runs over ≤ `shortlistSize`
    * rows INSIDE one `flatMapGroups` group (bounded per-group state,
    * the Sessionize rule), so queries parallelize and nothing
    * quadratic-in-corpus exists. Output (query_id, vec_id, mmr_rank);
    * scores are intentionally not emitted — their exact doubles are
    * engine-private, only the ORDER is the contract (q23/q24
    * precedent).
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              shortlistSize: Int = 20, lambdaRel: Double = 0.7,
              shortlist: (DataFrame, DataFrame, Int) => DataFrame = annShortlist)
      : DataFrame = {
    require(k > 0 && shortlistSize >= k && lambdaRel >= 0 && lambdaRel <= 1)
    val spark = queries.sparkSession
    import spark.implicits._
    val short = shortlist(queries, corpus, shortlistSize)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val cvec = corpus.select(col("vec_id").as("neighbor_id"),
      VectorFunctions.normalize(col("embedding")).as("v"))
    short.join(cvec, Seq("neighbor_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cosine").cast("double"), col("v"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.map { case (_, id, rel, v) => (id, rel, v.toArray) }
          .toArray.sortBy { case (id, _, _) => id }
        val n = cands.length
        val picked = new Array[Boolean](n)
        // RAW running max of cosine to the picked set — negative
        // similarities count (a doc ANTI-similar to every pick gets a
        // diversity BONUS, the textbook MMR semantics; a max clamped at
        // zero would silently drop that term — caught by the oracle
        // diverging on exactly such a candidate)
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val out = Seq.newBuilder[(Long, Long, Int)]
        var r = 1
        val kk = math.min(k, n)
        // (1 − λ) computed once, the same double the oracle's SQL
        // literal arithmetic produces
        val lambdaDiv = 1.0 - lambdaRel
        while (r <= kk) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              // first pick: max over the empty set contributes nothing
              val score = if (r == 1) lambdaRel * cands(i)._2
                else lambdaRel * cands(i)._2 - lambdaDiv * maxSim(i)
              // strict greater wins; ties fall to the lower id (the
              // id-ascending scan order makes that automatic)
              if (score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          // best stays -1 only when every remaining score is NaN
          // (NaN-element embeddings poison the cosine, and NaN sorts
          // first under desc, so such rows CAN reach the shortlist): no
          // pick beats NegativeInfinity under `>`, so stop emitting
          // rather than index picked(-1)
          if (best < 0) {
            r = kk + 1
          } else {
            picked(best) = true
            out += ((qid, cands(best)._1, r))
            val pv = cands(best)._3
            i = 0
            while (i < n) {
              if (!picked(i)) {
                var d = 0.0
                var j = 0
                while (j < pv.length) { d += pv(j) * cands(i)._3(j); j += 1 }
                if (d > maxSim(i)) maxSim(i) = d
              }
              i += 1
            }
            r += 1
          }
        }
        out.result().iterator
      }
      .toDF("query_id", "vec_id", "mmr_rank")
  }

  /** SemDeDup-style semantic dedup (cluster-then-prune, after Abbas et
    * al. 2023, arXiv:2303.09540): partition the corpus with a coarse
    * quantizer, then within each cluster drop every member whose cosine
    * to some LOWER-ID member clears `threshold`. The keep-lowest-id rule
    * makes the survivor set deterministic and order-free — a member is
    * dropped iff ANY lower-id same-cluster member is within the
    * threshold, regardless of whether that member itself survives — so
    * no sequential greedy scan is needed and the whole prune is one
    * declarative self-join.
    *
    * Scale shape: the corpus shuffles ONCE by cluster id (fixed-width
    * (cell, id, unit-vector) rows); the per-cluster self-join and its
    * cosine filter evaluate inside the joined codegen stage, so the
    * candidate pairs never materialize to a shuffle — the same
    * no-candidate-shuffle discipline as [[cosineNearDupLsh]]. Total
    * verify work is Σ|cell|²/2: linear in n when the quantizer keeps
    * cluster sizes bounded ([[semanticDedupAuto]] sizes k = n/target
    * for exactly that), which is the published SemDeDup recipe.
    */
  def semanticDedup(corpus: DataFrame, clusterCol: String,
                    threshold: Double,
                    clusterCountHint: Long = 0L): DataFrame =
    corpus.join(
      semanticDropped(corpus, clusterCol, threshold, clusterCountHint),
      Seq("vec_id"), "left_anti")

  /** The DROPPED-id set behind [[semanticDedup]] — factored out so
    * multi-assignment callers (a corpus row exploded into several
    * candidate cells) can anti-join the drop set against the ORIGINAL
    * corpus rather than the exploded relation. Input may carry
    * duplicate (vec_id, cell) rows; the output is distinct ids.
    */
  def semanticDropped(corpus: DataFrame, clusterCol: String,
                      threshold: Double,
                      clusterCountHint: Long): DataFrame = {
    // Zero-norm contract: an all-zero embedding has no direction, so it
    // neither drops anything nor can be dropped — it is excluded from the
    // prune join entirely (and therefore always survives). Without this
    // guard the engine would keep it too (normalize(0)=0, dot=0 <
    // threshold) but a SQL replay via cosine-similarity yields NaN there,
    // and NaN >= τ diverges across engines (DuckDB sorts NaN high) — the
    // explicit filter pins one behavior everywhere.
    val n = corpus
      .filter(VectorFunctions.norm(col("embedding")) =!= 0.0)
      .select(col("vec_id"), col(clusterCol).as("_cell"),
        VectorFunctions.normalize(col("embedding")).as("_emb"))
    val a = n.select(col("_cell"), col("vec_id").as("_id_a"),
      col("_emb").as("_emb_a"))
    val b = n.select(col("_cell"), col("vec_id").as("_id_b"),
      col("_emb").as("_emb_b"))
    // Parallelism guard (the cosineNearDupLsh slicing, keyed by the
    // quantizer's k instead of a bucket dial): with k clusters ≪ shuffle
    // parallelism the equi-join is key-bound — every cluster is
    // uniformly large, AQE's skew split never fires, and the tail runs
    // one core per cluster. Replicate side `b` across S hash slices of
    // `a`'s ids: each pair still meets exactly once, output unchanged,
    // key space grows S×. Callers that know their quantizer pass its k;
    // hint 0 (unknown) and the bounded-cell auto path (k ≫ partitions)
    // both compute S = 1 and leave the plan untouched.
    val parallelism =
      corpus.sparkSession.sessionState.conf.numShufflePartitions.toLong
    val slices =
      if (clusterCountHint <= 0L) 1
      else math.min(64L,
        math.max(1L, (4L * parallelism) / clusterCountHint)).toInt
    val (aS, bS, joinKeys) =
      if (slices <= 1) (a, b, Seq("_cell"))
      else (
        a.withColumn("_slice", pmod(hash(col("_id_a")), lit(slices))),
        b.withColumn("_slice",
          explode(array((0 until slices).map(lit(_)): _*))),
        Seq("_cell", "_slice"))
    aS.join(bS, joinKeys)
      .filter(col("_id_a") < col("_id_b") &&
        VectorFunctions.dot(col("_emb_a"), col("_emb_b")) >= threshold)
      .select(col("_id_b").as("vec_id")).distinct()
  }

  /** Semantic dedup on the production BUILD path: a k-means coarse
    * quantizer sized for bounded cluster size — k = ⌈n / targetCellSize⌉
    * — so the per-cluster quadratic term stays ≤ targetCellSize² and
    * total prune work grows LINEARLY with the corpus (the √n cell rule
    * that fits ANN probing would leave Σ|cell|² ≈ n^1.5 here). Driver
    * holds k × dim doubles; past the plan-literal budget (~16 MB, see
    * [[ivfTopKAuto]]) a deployment moves assignment from literal
    * centroids to a broadcast centroid table — the join shape of the
    * prune itself is unchanged.
    */
  /** `assignProbes = 2` multi-assigns every vector to its TWO nearest
    * cells (native [[org.apache.spark.sql.graft.VectorExpressions
    * .cellTop2]] — still one map-side pass): the recall repair for
    * boundary-split pairs. Measured at 200k vectors (SCALING.md round
    * 11): single assignment misses 11–13% of planted cosine-0.995
    * near-identical pairs — two points within ε of each other and of a
    * cell boundary land in different cells; with both of each point's
    * top-2 cells in play the pair meets unless BOTH disagree on both —
    * at the cost of ~2× rows into the prune join (≈4× verify
    * arithmetic), the standard multi-probe trade. Survivor semantics
    * stay deterministic: dropped iff ANY lower-id vector shares ANY
    * assigned cell within the threshold.
    */
  def semanticDedupAuto(corpus: DataFrame, dim: Int, threshold: Double,
                        targetCellSize: Int = 512,
                        iterations: Int = 3,
                        assignProbes: Int = 1): DataFrame = {
    require(assignProbes == 1 || assignProbes == 2,
      "assignProbes: 1 (nearest cell) or 2 (top-2 multi-assignment)")
    val n = corpus.count()
    val k = math.max(1, math.ceil(n.toDouble / targetCellSize).toInt)
    if (k > MaxLiteralCells)
      semanticDedupTwoLevel(corpus, dim, threshold, targetCellSize, iterations,
        assignProbes = assignProbes)
    else {
      val (assign, cents) = kMeans(corpus, "vec_id", "embedding", k, dim, iterations)
      if (assignProbes == 1)
        semanticDedup(corpus.join(assign, Seq("vec_id")), "cell", threshold,
            clusterCountHint = k)
          .drop("cell")
      else {
        val packed = org.apache.spark.sql.graft.VectorExpressions.cellTop2(
          VectorFunctions.normalize(col("embedding")),
          typedlit(cents.map(_.toSeq).toSeq))
        val exploded = corpus
          .withColumn("_t2", packed)
          .filter(col("_t2").isNotNull)
          .withColumn("cell", explode(org.apache.spark.sql.graft
            .VectorExpressions.top2Cells(col("_t2"))))
          .drop("_t2")
        val dropped = semanticDropped(exploded, "cell", threshold,
          clusterCountHint = k)
        corpus.join(dropped, Seq("vec_id"), "left_anti")
      }
    }
  }

  /** Past this many cells the single-level build stops being viable:
    * assignment is n·k ≈ n²/targetCell dot products (quadratic once
    * k ∝ n) and the driver-held centroid literal (k × dim doubles)
    * approaches the plan-size budget. 4096 cells × 64 dims × 8 B ≈ 2 MB
    * literal and ~2M vectors at the default cell size — [[semanticDedupAuto]]
    * switches to the two-level build beyond it.
    */
  val MaxLiteralCells: Int = 4096

  /** Two-level quantizer build for [[semanticDedup]] — the ≥1M-vector
    * path. The single-level build's defect is structural: with
    * k = n/targetCell cells, literal-centroid assignment costs n·k ≈
    * n²/targetCell dot products per iteration and puts k×dim doubles in
    * the plan. Splitting the quantizer bounds both:
    *
    *  - Level 1: literal-centroid spherical k-means with k₁ = ⌈√k⌉
    *    coarse cells ([[kMeans]] — driver holds √k × dim doubles, map-
    *    side `cell_argmax` assignment, n·√k dots per iteration).
    *  - Level 2: an INDEPENDENT k-means inside every coarse cell, all
    *    cells in one distributed job per iteration — sub-centroids live
    *    in a (cell, sub, vector) DataFrame of k rows (never on the
    *    driver, never a literal). For assignment each cell's
    *    sub-centroids bundle into one array row (k₁ rows total,
    *    broadcast) and the argmax runs MAP-SIDE via the native
    *    `cell_argmax`: n·k₂ = n·√k dots per iteration and no
    *    vector-carrying shuffle — the iteration's only wide op is the
    *    k-row centroid-update aggregate.
    *
    * Total build work is O(n·√(n/targetCell)·dim) — n^1.5, down from n²
    * — and driver/plan state is O(√k): at 100M vectors that is 442
    * literal centroids and a 195k-row sub-centroid table. Seeding and
    * tie-breaks mirror [[kMeans]] exactly (k₂ lowest-id members of each
    * coarse cell; argmax ties to the lowest sub id; empty sub-cells and
    * zero-norm means keep their previous centroid), so with k₁ = 1 the
    * two levels collapse to the single-level build bit-for-bit —
    * spec'd, along with survivors(twoLevel) ⊇ survivors(global brute):
    * a finer partition can only MISS cross-cell pairs, never invent
    * drops. Measured at 200k vectors: same-shape survivor set with the
    * build ~4× cheaper (SCALING.md, "Two-level quantizer build").
    */
  def semanticDedupTwoLevel(corpus: DataFrame, dim: Int, threshold: Double,
                            targetCellSize: Int = 512,
                            iterations: Int = 3,
                            k1Override: Int = 0,
                            assignProbes: Int = 1): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    require(assignProbes == 1 || assignProbes == 2,
      "assignProbes: 1 (nearest cell) or 2 (top-2 at both levels)")
    val n = corpus.count()
    val k = math.max(1, math.ceil(n.toDouble / targetCellSize).toInt)
    val k1 = if (k1Override > 0) k1Override
      else math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(k.toDouble / k1).toInt)
    val (assign1, cents1) = kMeans(corpus, "vec_id", "embedding", k1, dim, iterations)
    // fixed-width working set for the level-2 iterations: (cell, id, unit
    // vector). The malformed-vector guard matches kMeans — such rows got
    // no level-1 cell, so the inner join drops them here too (same
    // contract as the single-level path).
    val pts = corpus
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === dim &&
        !exists(col("embedding"), _.isNull))
      .select(col("vec_id"),
        VectorFunctions.normalize(col("embedding")).as("_v"))
      .join(assign1, Seq("vec_id"))
      .persist(MEMORY_AND_DISK)
    // Per-point argmax over the own cell's sub-centroids, MAP-SIDE: each
    // coarse cell's sub-centroids bundle into ONE array row in sub-id
    // order (k1 rows total — bounded at √k by construction, so the
    // explicit broadcast is safe at any corpus size) and the argmax is
    // the same native cell_argmax the single-level build uses, ties to
    // the lowest sub id. The alternative — joining the (cell, sub, _c)
    // rows and max_by-ing per point — shuffles n·k2 vector-carrying
    // candidate rows per iteration (~126 GB/iteration at 2M vectors,
    // measured before this shape); here the only wide op left in an
    // iteration is the k-row vectorAvg update.
    def bundle(cents: DataFrame): DataFrame = cents
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("sub"), col("_c"))).as("_subs"))
      .select(col("cell"),
        transform(array_sort(col("_subs")), s => s.getField("_c")).as("_subs"))
    def assignSub(cents: DataFrame): DataFrame =
      pts.join(broadcast(bundle(cents)), Seq("cell"))
        .select(col("cell"), col("vec_id"), col("_v"),
          org.apache.spark.sql.graft.VectorExpressions
            .cellArgmax(col("_v"), col("_subs")).as("sub"))
    // seeds: the k2 lowest-id members of each coarse cell (kMeans seeds
    // with the k lowest-id vectors globally — same rule, per cell)
    val seedW = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    var subcents = pts
      .withColumn("_rn", row_number().over(seedW))
      .filter(col("_rn") <= k2)
      .select(col("cell"), (col("_rn") - 1).as("sub"), col("_v").as("_c"))
      .persist(MEMORY_AND_DISK)
    var it = 0
    while (it < iterations) {
      // spherical k-means update: renormalized mean; empty sub-cells and
      // zero-norm means (null _m below) keep the previous centroid
      val updated = assignSub(subcents)
        .groupBy(col("cell"), col("sub"))
        .agg(VectorFunctions.vectorAvg(col("_v"), dim).as("_m"))
        .select(col("cell"), col("sub"),
          graft.functions.TextFunctions.bind(VectorFunctions.norm(col("_m"))) {
            nm => when(nm =!= 0.0, transform(col("_m"), x => x / nm))
          }.as("_m"))
      val next = subcents
        .join(updated, Seq("cell", "sub"), "left")
        .select(col("cell"), col("sub"),
          coalesce(col("_m"), col("_c")).as("_c"))
        .persist(MEMORY_AND_DISK)
      next.count()
      subcents.unpersist(false)
      subcents = next
      it += 1
    }
    // composite fine-cell id, then the one-shuffle prune. The assignment
    // is materialized (fixed-width (id, long) rows) so the working sets
    // can be released before the caller's action runs. With
    // assignProbes = 2 the final assignment multi-probes BOTH levels —
    // top-2 coarse cells (against the level-1 literal centroids), and
    // within each, top-2 sub-cells — up to 4 fine cells per point, so a
    // near-identical pair split at either boundary still meets; the
    // BUILD iterations stay single-assignment (multi-probe is an
    // inference-time repair, not a training change).
    val finalAssign = (
      if (assignProbes == 1)
        assignSub(subcents)
          .select(col("vec_id"),
            (col("cell").cast("long") * k2 + col("sub")).as("_cell2"))
      else {
        val t2 = org.apache.spark.sql.graft.VectorExpressions.cellTop2(
          col("_v"), typedlit(cents1.map(_.toSeq).toSeq))
        val coarse2 = pts.select(col("vec_id"), col("_v"))
          .withColumn("_t2", t2)
          .filter(col("_t2").isNotNull)
          .withColumn("cell", explode(org.apache.spark.sql.graft
            .VectorExpressions.top2Cells(col("_t2"))))
          .drop("_t2")
        coarse2.join(broadcast(bundle(subcents)), Seq("cell"))
          .withColumn("_s2", org.apache.spark.sql.graft.VectorExpressions
            .cellTop2(col("_v"), col("_subs")))
          .filter(col("_s2").isNotNull)
          .withColumn("sub", explode(org.apache.spark.sql.graft
            .VectorExpressions.top2Cells(col("_s2"))))
          .select(col("vec_id"),
            (col("cell").cast("long") * k2 + col("sub")).as("_cell2"))
          .distinct()
      }).localCheckpoint(true)
    pts.unpersist(false)
    subcents.unpersist(false)
    val dropped = semanticDropped(corpus.join(finalAssign, Seq("vec_id")),
      "_cell2", threshold, clusterCountHint = k1.toLong * k2)
    corpus.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Prototypicality pruning (after Sorscher et al., NeurIPS'22 "Beyond
    * neural scaling laws"): score each member by cosine to its OWN
    * cluster centroid and drop the most prototypical `dropPermille`/1000
    * of every cluster — redundant easy examples near the cluster core
    * contribute least to training, so data pruning removes them first.
    *
    * Deterministic by construction: rank ties break to the lower vec_id
    * and the per-cluster drop count is integer arithmetic
    * (⌊n·dropPermille/1000⌋ — no float boundary). Scale shape: the
    * centroid table is one row per cluster (broadcast), scoring is
    * map-side, and the only wide operation is the per-cluster
    * rank/count window — one shuffle by cluster id.
    */
  def prototypePrune(corpus: DataFrame, dim: Int,
                     dropPermille: Int): DataFrame = {
    require(dropPermille >= 0 && dropPermille <= 1000)
    val cents = centroidVectors(corpus, dim)
    val rankW = Window.partitionBy(col("label"))
      .orderBy(col("_proto").desc, col("vec_id").asc)
    val cellW = Window.partitionBy(col("label"))
    corpus.join(broadcast(cents), Seq("label"))
      .withColumn("_proto",
        VectorFunctions.cosine(col("embedding"), col("centroid")))
      .withColumn("_rk", row_number().over(rankW))
      .withColumn("_n", count(lit(1)).over(cellW))
      // floor(n·permille/1000) — exact while n·permille < 2^53, i.e. any
      // realistic corpus; Spark's `/` on longs is double division, so
      // the explicit floor pins the integer-cut semantics the oracle's
      // `//` uses
      .filter(col("_rk") > floor((col("_n") * lit(dropPermille.toLong)) / lit(1000L)))
      .drop("_proto", "_rk", "_n", "centroid")
  }

  /** Corpus k-NN GRAPH via the IVF cells, restricted to MUTUAL edges —
    * pairs (a, b) where each ranks in the other's top-k. The mutual-kNN
    * graph is the robust similarity graph density-based clustering and
    * graph-ANN builds start from (one-sided top-k edges from a dense
    * region into a sparse one are exactly the hub edges mutuality
    * prunes).
    *
    * Shape: [[ivfTopK]] with queries = corpus (cell-bounded in-cell
    * joins — Σ|cell|·probes·|cell| ≈ n^1.5 at √n cells, never the n²
    * all-pairs), then one ids-only self-join of the edge list on the
    * reversed key. Nothing vector-sized moves through the mutuality
    * join. At 2M+ vectors the probe stage swaps to the native
    * `cell_argmax`/broadcast route ([[assignCellsAuto]]) exactly as
    * [[ivfPqTopK]] does; the label-cell form here is the
    * oracle-replayable twin (q38's quantizer).
    */
  def mutualKnnGraph(corpus: DataFrame, k: Int, dim: Int,
                     nProbes: Int = 2): DataFrame = {
    require(nProbes == 1 || nProbes == 2,
      "probe cells are assigned map-side: nProbes must be 1 or 2")
    // Per-label mean centroids as plan literals (k × dim doubles — the
    // k-means literal rule). queries == corpus here, so the ivfTopK
    // probe shape (crossJoin + broadcast of the PROBED QUERIES) would
    // broadcast the whole corpus; instead both the probe cells and the
    // member cells are assigned MAP-SIDE (native cell_top2/cell_argmax,
    // the q89 discipline) and the only vector-carrying movement is the
    // one label-keyed exchange the in-cell join needs.
    val rows = centroidVectors(corpus, dim).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val labels = rows.map(_._1)
    val matrix = typedlit(rows.map(_._2.toSeq).toSeq)
    val qn = VectorFunctions.normalize(col("embedding"))
    val ve = org.apache.spark.sql.graft.VectorExpressions
    val cells =
      if (nProbes == 1) array(ve.cellArgmax(qn, matrix))
      else ve.top2Cells(ve.cellTop2(qn, matrix))
    val probed = corpus
      .withColumn("_cells", cells)
      .filter(col("_cells").isNotNull)
      .select(col("vec_id").as("query_id"), qn.as("q_emb"),
        explode(col("_cells")).as("_cell"))
      .withColumn("label", element_at(typedlit(labels.toSeq), col("_cell") + 1))
      .drop("_cell")
    mutualFromCells(corpus, probed, k)
  }

  /** [[mutualKnnGraph]] on the PRODUCTION quantizer: k-means cells
    * auto-sized to ≈ √n ([[cellsForCorpus]]), top-2 probe assignment,
    * so the in-cell join work stays ≈ n^1.5 as the corpus grows — the
    * label-cell form's fixed 20 cells go quadratic past ~10⁵ vectors.
    * Same output contract and the same map-side assignment shape; the
    * quantizer build is the only difference.
    */
  def mutualKnnGraphAuto(corpus: DataFrame, k: Int, dim: Int,
                         iterations: Int = 5): DataFrame = {
    val nCells = cellsForCorpus(corpus.count())
    val (_, cents) = kMeans(corpus, "vec_id", "embedding", nCells, dim, iterations)
    val matrix = typedlit(cents.map(_.toSeq).toSeq)
    val qn = VectorFunctions.normalize(col("embedding"))
    val ve = org.apache.spark.sql.graft.VectorExpressions
    val probed = corpus
      .withColumn("_t2", ve.cellTop2(qn, matrix))
      .filter(col("_t2").isNotNull)
      .select(col("vec_id").as("query_id"), qn.as("q_emb"),
        explode(ve.top2Cells(col("_t2"))).as("label"))
    val members = corpus
      .withColumn("label", ve.cellArgmax(qn, matrix))
      .filter(col("label").isNotNull)
    mutualFromCells(members, probed, k)
  }

  /** In-cell exact rank + reciprocal filter shared by the two graph
    * builds: one label-keyed hash join (the only vector-carrying
    * exchange), vectors projected away before the per-query rank
    * window, ids-only mutuality self-join.
    */
  private def mutualFromCells(members: DataFrame, probed: DataFrame,
                              k: Int): DataFrame = {
    val m = members.select(col("label"), col("vec_id").as("neighbor_id"),
      VectorFunctions.normalize(col("embedding")).as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    mutualFromEdges(m.join(probed, Seq("label"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorFunctions.dot(col("q_emb"), col("c_emb")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k))
  }

  private def mutualFromEdges(edges: DataFrame): DataFrame = {
    val g = edges.select(col("query_id"), col("neighbor_id"), col("rank"))
    val rev = g.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), col("rank").as("rank_ba"))
    g.join(rev, Seq("query_id", "neighbor_id"))
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("rank").as("rank_ab"), col("rank_ba"))
  }
}
