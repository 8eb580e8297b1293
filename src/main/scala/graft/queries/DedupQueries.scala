package graft.queries

import graft.Tables
import graft.functions.{ExactNum, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Sessionize, Similarity, Splits, WindowedAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family: exact/normalized dedup, MinHash-LSH,
  * SimHash, exact Jaccard and containment, duplicate clustering,
  * decontamination, and the composed curation funnel.
  *
  * Mixed into [[QueryPack]]; oracle SQL for each query lives beside its
  * Spark form in [[dedupOracles]].
  */
private[queries] trait DedupQueries {
  import ExactNum._
  import SqlTwins._

  /** Materialize-once for a SMALL shared plan leg (ids/hashes only, no
    * text) consumed by several downstream branches — optimization guide
    * §5 (localCheckpoint to cut lineage) + §3.3 (plan truncation). The
    * exchange-reuse the lazy form relies on only dedups IDENTICAL
    * exchanges; the final aggregate above a reused distinct exchange
    * and every per-consumer re-shuffle still replays per branch, and
    * each branch carries the whole upstream subtree through AQE
    * planning. Checkpointing pins the leg to one evaluation and shrinks
    * every consumer's plan to a row replay. Bounded: every call site
    * passes a relation whose width is fixed (few longs per row) and
    * whose row count is corpus-sublinear or corpus-linear × small
    * constant — never payload bytes. The eager checkpoint runs a job
    * when the DataFrame is built, so its callers (q123, q126, q137)
    * execute even when they are only planned or explained.
    */
  private def matSharedLeg(df: DataFrame): DataFrame = df.localCheckpoint(true)


  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col("text"))).as("n_unique"))

  /** MinHash+LSH near-dup pairs (2-gram shingles; 16 bands × 4 rows).
    * Every emitted pair carries an EXACT verified Jaccard, so the oracle
    * is the exact all-pairs Jaccard at the same threshold. The banding
    * dial is set from the corpus's measured similarity structure —
    * bimodal: background J < 0.1, planted near-dups J ≥ 0.9, nothing
    * between. r=4 keeps background candidates ≈ N²·J⁴ negligible (r ≤ 2
    * measured 25-90× slower here: J≈0.05 pairs × N² swamp the verify
    * join), and 16 bands put the planted-pair miss probability at
    * (1−0.9⁴)¹⁶ ≈ 4·10⁻⁸ — the equality oracle holds across corpus
    * regenerations, not just for this seed.
    */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicatePairs(Tables.documentsWide(s, dir), "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 2, jaccardThreshold = 0.7)

  /** SimHash signatures — FNV token hashes, so the 64-bit majority vote
    * is restated verbatim in the oracle SQL. */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash(Tables.documentsWide(s, dir), "text")
      .select(col("doc_id"), col("simhash"))

  /** Exact n-gram Jaccard near-dups via the inverted-index join — the
    * oracle-checkable twin of the LSH path, bounded to a deterministic
    * id slice so the quadratic tail stays capped at bench scale.
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.exactJaccardPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "doc_id", "text", shingleSize = 2, threshold = 0.5)

  /** Near-dup pairs → duplicate CLUSTERS: connected components assign
    * every member the minimum reachable doc id as `cluster_id` — the
    * keep-one-per-cluster step of a real dedup pipeline. Oracle is a
    * recursive-CTE transitive closure over the identical pair set.
    */
  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.exactJaccardPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "doc_id", "text", shingleSize = 2, threshold = 0.5)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("node").as("doc_id"), col("cluster_id"))
  }

  /** Incremental ingest dedup (q131) — the production arrival path: an
    * arriving batch (every 10th doc) probes the standing corpus's
    * persisted band index + hash-set table and checks itself, emitting
    * a per-document admission decision. Same (64, 16, 2, 0.7) dials as
    * q20, so the banding-equals-exact recall argument carries over and
    * the oracle is the exact batch×corpus + batch×batch Jaccard replay.
    * Per-ingest cost is ∝ |batch| — the point of the operator.
    *
    * Admission semantics are keep-FIRST: batch-internal pairs carry the
    * LATER (higher) id on the flagged side, so the rollup admits the
    * first occurrence and marks the later duplicate `is_dup` — the same
    * orientation as corpus matches (corpus content is always "first").
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(s, dir)
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val index = Dedup.minhashBandIndex(existing, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 2)
    val sets = Dedup.shingleHashSets(existing, "doc_id", "text", shingleSize = 2)
    val pairs = Dedup.incrementalNearDups(batch, "doc_id", "text",
      index, sets, numHashes = 64, bands = 16, shingleSize = 2,
      jaccardThreshold = 0.7)
    val agg = pairs.groupBy(col("id"))
      .agg(count(lit(1)).as("n_matches"),
        sum(when(col("src") === "corpus", 1L).otherwise(0L)).as("n_corpus_matches"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("jaccard").desc, col("match_id").asc)
    val best = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("match_id").as("best_match_id"),
        col("jaccard").as("best_jaccard"))
    batch.select(col("doc_id").as("id"))
      .join(agg, Seq("id"), "left").join(best, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        col("best_match_id"), col("best_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"))
  }

  /** Split-leakage audit — near-dup clusters (q45's graph) crossed with
    * the content-hash train/valid/test split (q46's buckets): every
    * cluster whose members land in ≥ 2 splits is TRAIN/EVAL
    * CONTAMINATION that exact-match decontamination (q55/q94) cannot
    * see, because near-duplicates hash to different buckets by
    * construction (they differ in text, so the split hash is
    * independent of cluster membership — two near-dups co-split with
    * probability 0.8² + 0.1² + 0.1² = 0.66, i.e. a third of 2-doc
    * clusters leak). The audit is the reason curation pipelines dedup
    * BEFORE splitting ([[graft.pipelines.CurationPipeline]] orders its
    * stages exactly so); its output is the leak list a pipeline must
    * drive to zero rows.
    *
    * Scale shape: the cluster side is q45's bounded slice; the split is
    * one map-side hash; the audit itself is an id equi-join + a
    * cluster-keyed aggregate — at full corpus the same plan runs over
    * the near-dup pair output the pipeline already materializes.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TextHashExpressions
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
    val pairs = Dedup.exactJaccardPairs(
      docs, "doc_id", "text", shingleSize = 2, threshold = 0.5)
    val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val bucket = TextHashExpressions.fnv64(col("text"))
      .bitwiseAND(lit(0x7FFFFFFFL)) % 100
    val split = docs.select(col("doc_id"),
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test").as("split"))
    clusters.join(split, clusters("node") === split("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("split")).as("n_splits"),
           concat_ws(",", array_sort(collect_set(col("split")))).as("splits"))
      .filter(col("n_splits") >= 2)
      .select(col("cluster_id"), col("n_docs"), col("n_splits"), col("splits"))
  }

  /** Group-aware split (q144) — the operator that drives q128's leak
    * list to zero rows BY CONSTRUCTION: the same near-dup graph and the
    * same content-hash buckets, but the split is assigned per CLUSTER
    * (every member inherits the min-id representative's bucket), so no
    * near-dup cluster can straddle train/eval. See
    * [[graft.operators.Splits.groupAwareSplit]] for the stability
    * argument (a newly ingested near-dup can never move an existing
    * doc's split).
    *
    * Scale shape: bucket is map-side before any shuffle; the component
    * graph is q45's ids-only slice; the representative lookup is two
    * ids-only equi-joins. Same bounded doc_id slice as q128 so the two
    * queries stay an audit/fix pair over one corpus.
    */
  def groupSplit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TextHashExpressions
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
    val bucketed = docs.select(col("doc_id"),
      (TextHashExpressions.fnv64(col("text"))
        .bitwiseAND(lit(0x7FFFFFFFL)) % 100).as("bucket"))
    val pairs = Dedup.exactJaccardPairs(
      docs, "doc_id", "text", shingleSize = 2, threshold = 0.5)
    Splits.groupAwareSplit(bucketed, pairs, "doc_id", "bucket")
  }

  /** Corpus novelty attribution — per language, what fraction of
    * bigram-shingle mass is FIRST-OCCURRENCE content (the shingle's
    * minimum doc_id is this document): the marginal-contribution signal
    * curation uses to rank sources/batches by how much NEW material
    * they add, where dedup (q92/q95) only answers what is repeated. A
    * wholly-duplicated document scores 0 novel shingles; the corpus's
    * first document scores all of its shingles. Attribution is
    * deterministic (min over doc_id), all counts exact integers, the
    * ratio floored to ppm.
    *
    * Scale shape: distinct (doc, shingle-hash) pairs → one hash
    * aggregate for the global first-seer per shingle (ids-only, the
    * q92 layout) → an equi-join back on the hash → two rollups. No
    * text ever shuffles; the join keys are 8-byte hashes.
    */
  def noveltyStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TextHashExpressions
    // Deliberately LAZY (round-15 A/B: matSharedLeg here measured 0.66×
    // — the (lang, doc_id, h) leg is corpus-token-mass, and writing it
    // to checkpoint storage costs more than the ReusedExchange replay
    // of the post-distinct aggregate; contrast q123, whose shared leg
    // is the same shape but feeds FOUR consumers and wins 1.12×).
    val sh = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 2)).as("g"))
      .select(col("lang"), col("doc_id"),
        TextHashExpressions.fnv64(col("g")).as("h"))
      .distinct()
    val firstSeen = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, Seq("h"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("total_shingles"),
           count(when(col("doc_id") === col("first_doc"), 1)).as("total_novel"))
      .withColumn("novelty_ppm",
        expr("total_novel * 1000000 div total_shingles"))
      .select(col("lang"), col("n_docs"), col("total_shingles"),
        col("total_novel"), col("novelty_ppm"))
  }

  /** Sketch-based cross-corpus overlap — KMV SET OPERATIONS on top of
    * the q105/q120 distinct machinery: estimate the train/test shingle
    * intersection and Jaccard from two k-minimum-value sketches alone
    * (Beyer et al., SIGMOD'07). The combined sketch U = the k smallest
    * distinct hashes of A ∪ B is itself a uniform sample of the union,
    * so |U ∩ A ∩ B| / |U| estimates the Jaccard and scales the union
    * estimate ((k−1)·2⁶⁴ / kth-min) into an intersection count. This is
    * the CONTAMINATION-ESTIMATE primitive at 100 TB: where q55/q94
    * answer "which exact rows leak" (a join) and q128 audits near-dup
    * clusters, this answers "how big is the distinct overlap" from
    * 2·k stored longs — no join, no re-scan, and the per-corpus
    * `kmv_hashes` arrays are the same artifacts a sketch table already
    * persists per partition/day (q120's rollup re-rolls them). Exact
    * counts ride along as the gate (they are the expensive leg — the
    * production path emits only the sketch columns).
    *
    * Determinism: the k-min arrays are exact order statistics of the
    * shared fnv64∘mix64 hash, the combined-sketch membership counts are
    * integers, and the only division is floored — the estimate replays
    * bit-for-bit in SQL (same contract as q105).
    *
    * Scale shape: one shingle-mass pass feeds two bounded aggregates
    * (≤ 8k bytes of state per split×partition); everything after the
    * groupBy is arithmetic over two ≤ k-long arrays on a 1×1 broadcast
    * join. The exact-gate legs are one distinct + one 2-key aggregate,
    * dropped at production scale.
    */
  def kmvOverlap(s: SparkSession, dir: String): DataFrame =
    kmvOverlapOf(splitShingleHashes(Tables.documents(s, dir)), k = 64)

  /** q143's input builder: q128's content-hash split (valid excluded so
    * the overlap reads train-vs-test contamination) × distinct-ready
    * bigram-shingle hashes. */
  private[graft] def splitShingleHashes(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.TextHashExpressions
    val bucket = TextHashExpressions.fnv64(col("text"))
      .bitwiseAND(lit(0x7FFFFFFFL)) % 100
    docs
      .select(when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test").as("split"),
        explode(TextFunctions.shingles(col("text"), 2)).as("g"))
      .filter(col("split") =!= "valid")
      .select(col("split"),
        TextHashExpressions.mix64(TextHashExpressions.fnv64(col("g"))).as("hu"))
  }

  /** [[kmvOverlap]]'s core over any (split ∈ {train, test}, hu) frame —
    * exposed for the spec's planted-overlap fixtures. Carries the exact
    * gate columns; the sketch-only form's A/B is SCALING.md's
    * "KMV overlap vs the exact legs at scale" section. */
  private[graft] def kmvOverlapOf(sh: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.SketchAggregates
    val sk = sh.groupBy(col("split"))
      .agg(SketchAggregates.kmvHashes(col("hu"), k).as("mins"),
           countDistinct(col("hu")).as("n_exact"))
    // exact intersection — the gate column
    val nBoth = sh.distinct()
      .groupBy(col("hu")).agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") === 2)
      .agg(count(lit(1)).as("n_intersect_exact"))
    val train = sk.filter(col("split") === "train")
      .select(col("mins").as("a"), col("n_exact").as("n_train_exact"))
    val test = sk.filter(col("split") === "test")
      .select(col("mins").as("b"), col("n_exact").as("n_test_exact"))
    combineKmvSketches(train.crossJoin(test).crossJoin(nBoth), k)
      .select(col("n_train_exact"), col("n_test_exact"),
        col("n_intersect_exact"), col("n_union_kmv"),
        col("n_intersect_kmv"), col("jaccard_kmv_ppm"))
  }

  /** Combined-sketch arithmetic over a frame carrying k-min arrays `a`
    * (train) and `b` (test): U = the k smallest distinct hashes of
    * A ∪ B, m = |U ∩ A ∩ B|, estimates floored onto the integer grid. */
  private def combineKmvSketches(joined: DataFrame, k: Int): DataFrame = {
    val num = (k - 1).toDouble * math.pow(2, 64)
    // KMV order is UNSIGNED: flip the sign bit so array_sort's signed
    // order matches, then flip back for membership checks
    val flip = lit(Long.MinValue)
    val combined = joined
      .withColumn("u_flipped",
        slice(array_sort(transform(array_distinct(concat(col("a"), col("b"))),
          x => x.bitwiseXOR(flip))), 1, k))
      .withColumn("u", transform(col("u_flipped"), x => x.bitwiseXOR(flip)))
      .withColumn("u_size", size(col("u")).cast("long"))
      .withColumn("m", size(array_intersect(
        array_intersect(col("u"), col("a")), col("b"))).cast("long"))
      .withColumn("kth", element_at(col("u"), size(col("u"))))
    val unsignedKth = when(col("kth") < 0,
      col("kth").cast("double") + lit(math.pow(2, 64)))
      .otherwise(col("kth").cast("double"))
    combined
      // u smaller than k ⇒ both sketches are complete sets ⇒ exact
      .withColumn("n_union_kmv", when(col("u_size") < k, col("u_size"))
        .otherwise(floor(lit(num) / unsignedKth).cast("long")))
      .withColumn("n_intersect_kmv",
        expr("m * n_union_kmv div u_size"))
      .withColumn("jaccard_kmv_ppm", expr("m * 1000000 div u_size"))
  }

  /** Normalize-then-dedup: lowercase, punctuation→space, collapsed
    * whitespace — the canonicalization pass that catches trivially-edited
    * duplicates exact hashing misses.
    */
  def normalizedDedup(s: SparkSession, dir: String): DataFrame = {
    // one native pass collapses punct/ws runs; lower() stays the engine
    // built-in so Unicode case folding matches the oracle's lower()
    val norm = lower(
      org.apache.spark.sql.graft.TextNormExpressions.normalizeWsPunct(col("text")))
    Tables.documents(s, dir)
      .withColumn("norm_hash", md5(norm))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("norm_hash")).as("n_unique_normalized"))
  }

  /** SimHash blocked-LSH near-dup pairs with exact hamming verification.
    * 4×16-bit blocks + single-bit probes have FULL recall for hamming ≤ 7
    * (pigeonhole — see [[Dedup.simHashNearDups]]), so the brute-force
    * self-join oracle is exactly equal — the LSH is a pure
    * execution-strategy change, not an approximation, at this distance.
    */
  def simhashNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDups(Tables.documentsWide(s, dir), "doc_id", "text", maxHamming = 7)

  /** Benchmark decontamination: training documents that share ≥3 distinct
    * word 3-grams with any held-out/eval document (here: doc_id % 100 == 0
    * stands in for the benchmark set). The eval n-gram index is tiny
    * relative to the corpus, so at this scale it BROADCASTS — the
    * corpus-side scan stream-probes a hash set and never shuffles by
    * shingle. No explicit broadcast hint: the eval set is ~1% of corpus
    * distinct 3-grams and GROWS WITH THE CORPUS, so a forced hint would
    * OOM once the index outgrows broadcast range — AQE sees the actual
    * post-shuffle size and picks broadcast while it fits, then degrades
    * to a shuffle equi-join on the shingle when it doesn't. This is the
    * n-gram-overlap contamination check (à la GPT-3/PaLM appendix
    * methodology) every pretraining pipeline runs before evaluation.
    */
  def decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = docs.select(col("doc_id"),
      explode(array_distinct(TextFunctions.shingles(col("text"), 3))).as("shingle"))
    val evalSh = sh.filter(col("doc_id") % 100 === 0).select("shingle").distinct()
    sh.filter(col("doc_id") % 100 =!= 0)
      .join(evalSh, Seq("shingle"))
      // (doc_id, shingle) is distinct after array_distinct+explode, so a
      // plain count IS the distinct-shared-shingle count — no
      // count(distinct) expansion in the aggregate
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  /** End-to-end near-dup REMOVAL: cluster near-duplicates (q45's
    * connected components over exact-Jaccard pairs) and keep only the
    * canonical (minimum-id) member of each cluster — the survivor count
    * per language is what a curation pipeline reports after dedup.
    */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    // reuses q45's cluster pipeline verbatim — q54 summarizes exactly
    // the clusters q45 reports, and parameter tuning stays in one place
    val dropped = dupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id")) // non-canonical members
      .select(col("doc_id"))
    Tables.documents(s, dir).filter(col("doc_id") < 1000)
      .join(dropped, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_survivors"))
  }

  /** Quality-weighted survivor selection: the keep-the-BEST-copy variant
    * of q54's keep-min-id dedup. Clusters near-duplicates (q45's
    * connected components over exact-Jaccard pairs) and keeps, per
    * cluster, the member with the highest composite quality score
    * (q41's formula), minimum doc id on ties — what a real curation
    * pipeline does with a duplicate group (keep the best copy), rather
    * than an arbitrary canonical id. One row per cluster:
    * (cluster_id, kept_doc_id, n_members, kept_score).
    *
    * Scale shape: [[Dedup.bestScoreSurvivors]] — the membership set
    * (dup-involved ids only) exchanges once by cluster_id; the quality
    * join is id-keyed upstream of it.
    */
  def qualitySurvivors(s: SparkSession, dir: String): DataFrame = {
    val scores = Tables.documents(s, dir).filter(col("doc_id") < 1000)
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q"))
    Dedup.bestScoreSurvivors(dupClusters(s, dir), "doc_id", "cluster_id",
        scores, "doc_id", "q")
      .withColumnRenamed("kept_id", "kept_doc_id")
  }

  /** Asymmetric containment near-dup (doc-inside-doc): smaller shingle
    * set ≥80% contained in a larger one — the quote/concatenation case
    * Jaccard misses. Bounded to the same deterministic id slice as
    * q22/q45.
    */
  def containmentDups(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "doc_id", "text", shingleSize = 2, threshold = 0.8)

  /** Chunk-level dedup over content-defined chunks
    * ([[graft.operators.Chunking.contentDefinedChunks]]): per language,
    * how much of the corpus is duplicated CHUNK mass — total chunks,
    * distinct chunks, total tokens, and the tokens that chunk-level
    * dedup would save (occurrences beyond each chunk's first). CDC cut
    * points are content-local, so shared passages hash identically
    * across edited copies — the sub-document dedup signal fixed-width
    * chunking destroys after one insertion.
    *
    * Scale shape: chunking is map-side; the only corpus-sized exchange
    * is fixed-width (lang, chunk_hash) partial-agg rows, and the final
    * per-lang rollup re-aggregates unique-hash rows only.
    */
  def cdcChunkDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking
      .contentDefinedChunks(Tables.documents(s, dir), "text", meanTokens = 8)
      .groupBy(col("lang"), col("chunk_hash"))
      .agg(count(lit(1)).as("cnt"), max(col("n_tok")).as("nt"))
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_chunks"),
           count(lit(1)).as("n_unique_chunks"),
           sum(col("cnt") * col("nt")).as("total_tokens"),
           sum((col("cnt") - 1) * col("nt")).as("dup_tokens"))

  /** The END-TO-END curation funnel as one oracle-checked query:
    * normalized exact dedup → near-dup cluster removal → quality floor →
    * benchmark decontamination → content-hash split, reported as
    * survivors per (lang, split). Every stage's SQL twin is proven
    * individually (q49, q45/q54, q41, q55, q46); this composes them —
    * the strongest correctness statement the gate can make about
    * [[graft.pipelines.CurationPipeline]]. Bounded to the deterministic
    * id slice the pair oracles use.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
    val eval = docs.filter(col("doc_id") % 100 === 0).select(col("text"))
    val train = docs.filter(col("doc_id") % 100 =!= 0)
    graft.pipelines.CurationPipeline.curate(train, eval)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Cross-corpus dedup: the incoming crawl batch (doc_id % 10 == 0
    * stands in for it) deduped AGAINST the existing training corpus via
    * [[Dedup.crossCorpusPairs]] — only cross-side candidates are ever
    * generated, never either side's intra-corpus pairs, which is what
    * makes "dedup the new crawl against 100 TB of history" affordable.
    * Bounded to the deterministic id slice the pair oracles use.
    */
  def crossCorpusDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 2000)
    Dedup.crossCorpusPairs(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", shingleSize = 2, threshold = 0.5)
  }

  /** Exact duplicated-SPAN detection (the Lee et al. "Deduplicating
    * Training Data" exact-substring pass, windowed): a document's
    * 15-token windows that also occur verbatim in ANY other document
    * are duplicated spans; per source this reports the docs whose span
    * overlap crosses the drop threshold and the average duplicated
    * fraction. Catches the boilerplate/quotation duplication that
    * whole-document dedup (q15/q20) misses.
    *
    * Engine shape: windows travel as native 64-bit
    * [[TextFunctions.shingleHashes]] (ids-only — no window STRING ever
    * shuffles), one exchange on the window hash with a count-only
    * window aggregate (hot boilerplate keys stream through a single
    * count, no per-key buffering), then a per-doc rollup. The oracle
    * replays windows as strings — set identity agrees with the hash
    * path barring a 64-bit collision (~1e-7 at 3M windows, and the
    * corpus is fixed; DupSpansSpec pins hash-path ≡ string-path on the
    * test corpus).
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    spanDupFractions(Tables.documents(s, dir), 15)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           count(when(col("dup_frac") >= 0.5, 1)).as("n_flagged"),
           davg(col("dup_frac")).as("avg_dup_frac"))

  /** Per-document duplicated-span fraction at window size `w` tokens —
    * exposed for the spec's planted-duplicate and hash≡string checks. */
  private[graft] def spanDupFractions(docs: DataFrame, w: Int): DataFrame = {
    val wins = docs.select(col("doc_id"),
      explode(TextFunctions.shingleHashes(col("text"), w)).as("h"))
    val perDoc = wins
      .withColumn("n_with", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
           count(when(col("n_with") >= 2, 1)).as("n_shared_windows"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("dup_frac", when(col("n_windows").isNull, lit(0.0))
        .otherwise(floor(col("n_shared_windows").cast("double") / col("n_windows") * 1e6) / 1e6))
  }

  /** Bloom-prefiltered decontamination ([[Dedup.bloomDecontaminate]]):
    * the q55 check with the eval n-gram index compressed to a
    * fixed-size Bloom filter probed map-side, exact-verified after —
    * identical output contract (no false negatives), shuffle volume
    * capped at ~fpp × corpus shingles instead of the whole stream.
    * Same eval split as q55 (doc_id % 100), so the oracle is q55's SQL
    * replayed on hash-identity shingles.
    */
  def bloomDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.bloomDecontaminate(
      docs.filter(col("doc_id") % 100 =!= 0),
      docs.filter(col("doc_id") % 100 === 0),
      "doc_id", "text")
  }

  /** Duplicated-span EXTENTS — the actionable output of exact-substring
    * dedup (Lee et al. apply it by CUTTING the duplicated ranges, not
    * dropping documents): q92 reports which documents carry shared
    * 15-token windows; this emits the merged token ranges themselves —
    * per document, maximal runs of tokens covered by windows that also
    * occur verbatim elsewhere (gaps-and-islands over window positions),
    * ready for a removal pass. Positional windows hash map-side
    * (fnv64 of the window string — the oracle replays the identical
    * arithmetic, so identity is exact, not collision-caveated relative
    * to the replay); only (doc_id, pos, hash) rows ever shuffle.
    */
  def dupSpanExtents(s: SparkSession, dir: String): DataFrame =
    spanExtents(Tables.documents(s, dir), 15)

  /** [[dupSpanExtents]]'s core at window size `w` — the library
    * operator is [[Dedup.duplicatedSpanExtents]] (windows hash via the
    * native positional expression, whose values equal
    * fnv64(concat_ws(" ", window)) by spec'd contract, so the oracle's
    * string replay holds verbatim; measured q95 2.41 → 0.88 s at
    * sf0.1). Exposed for the spec's planted-span geometry checks. */
  private[graft] def spanExtents(docs: DataFrame, w: Int): DataFrame =
    Dedup.duplicatedSpanExtents(docs, "doc_id", "text", w)

  /** Span SCRUB — the final step of exact-substring dedup: actually
    * CUT [[dupSpanExtents]]'s duplicated token ranges out of each
    * affected document and emit the cleaned text's fingerprint (Lee et
    * al. remove the duplicated bytes; the document survives with its
    * unique content). Output per affected doc: token count, removed
    * count, and the md5 of the space-rejoined kept tokens — the md5
    * makes the reconstruction itself oracle-checkable, not just the
    * arithmetic around it.
    *
    * Engine shape: extents come from [[spanExtents]] (ids-only
    * shuffles) and collapse to ONE small row per affected document (a
    * doc has few disjoint extents), so the only join is doc ⋈
    * extent-list on doc_id — inner, so it also prunes the scrub to the
    * duplicated subset — and the cut itself is a map-side
    * positional-array filter over the token array. No (doc_id, pos,
    * tok) row ever shuffles: the text stream stays where the scan put
    * it, which is the difference between "linear in the duplicated
    * subset" and "re-shuffling the corpus" at 100 TB. (A first cut of
    * this operator exploded and shuffled every affected token for a
    * per-doc sort-reassembly; at 10× data it ran 7.1× — the rewrite is
    * the fix, not a tweak. SCALING.md records both.)
    */
  def spanScrub(s: SparkSession, dir: String): DataFrame =
    scrubSpans(Tables.documents(s, dir), 15)

  /** [[spanScrub]]'s core at window size `w` — the library operator is
    * [[Dedup.scrubDuplicatedSpans]] (which returns the scrubbed TEXT;
    * the query md5s it so the reconstruction hash-checks cross-engine).
    * Exposed for the spec's planted-geometry reconstruction checks. */
  private[graft] def scrubSpans(docs: DataFrame, w: Int): DataFrame =
    Dedup.scrubDuplicatedSpans(docs, "doc_id", "text", w)
      .select(col("doc_id"), col("n_tok"), col("n_removed"),
        md5(col("scrubbed_text")).as("scrub_md5"))

  /** PageRank over the document link graph — the crawl-curation
    * centrality pass (Common-Crawl-style pipelines rank hosts/pages
    * before sampling). Edges are derived deterministically from the
    * corpus (each doc links to 3 affine-hash targets, self-loops
    * dropped) so the oracle replays the identical graph; the ITERATION
    * is the operator under test. All rank mass stays in INTEGER
    * arithmetic — total mass 10¹² distributed as `base = S div n`,
    * per-edge contribution `rank div outdeg`, damping
    * `(15·base) div 100 + (85·inflow) div 100` — so three unrolled
    * iterations are bit-identical cross-engine with no float drift to
    * hash-mismatch (floor-truncation leaks mass deterministically;
    * ranks are relative scores, not probabilities).
    *
    * Engine shape per iteration: ranks ⋈ edges on src (both sides hash-
    * partitioned on the same key — the exchange is planned once and
    * reused across iterations) then a groupBy(dst) partial-aggregating
    * sum; the iteration count is fixed and the driver holds nothing.
    * At web scale the same loop runs with edges pre-bucketed by src and
    * AQE handling hub-node skew — the plan shape is unchanged.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val nRow = docs.agg(count(lit(1)).as("n"))
    // Edge list deliberately LAZY (round-15 A/B: matSharedLeg measured
    // 0.90× here — the per-iteration consumers already share the edge
    // exchange via ReusedExchange, so the checkpoint write is pure
    // overhead; contrast q126/q137, whose triangle join replays the
    // edge set through differently-keyed exchanges and win 1.5-1.7×).
    pagerankRanks(docs, nRow, linkEdges(docs, nRow), iters = 3)
      .orderBy(col("rank").desc, col("id").asc).limit(20)
      .select(col("id").as("doc_id"), col("rank"))
  }

  /** The deterministic document link graph q118/q126 share — real
    * structure so graph operators face real shapes: one shuffled
    * "random surfer" link (affine bijection), one HUB link (first tenth
    * of ids absorb 10× in-degree — the host-concentration pattern real
    * crawls have), one quadratic link (varying fan-in). Derived purely
    * from doc_id so the oracle replays the identical graph.
    */
  private[graft] def linkEdges(docs: DataFrame, nRow: DataFrame): DataFrame =
    docs.crossJoin(broadcast(nRow))
      .select(col("doc_id").as("src"), col("n"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .withColumn("dst",
        when(col("j") === 1, pmod(col("src") * 31 + 17, col("n")))
          .when(col("j") === 2, col("src") % greatest(expr("n div 10"), lit(1L)))
          .otherwise(pmod(col("src") * col("src") + 7, col("n"))))
      .filter(col("dst") =!= col("src"))
      .select(col("src"), col("dst"))

  /** Triangle counting over the document link graph —
    * [[graft.operators.Graph]]'s degree-oriented enumeration (the
    * clustering-coefficient / community-density signal crawl curation
    * ranks hosts by, and PageRank's structural sibling: q118 measures
    * flow centrality, this measures closure). The top-15 nodes by
    * triangle participation, count-then-id ordered; the oracle replays
    * graph, orientation, wedge join and closing-edge join verbatim.
    *
    * Scale shape: orientation bounds wedge fan-out by the lower-degree
    * endpoint, so candidates number Σ outdeg² ≤ m^{3/2} instead of the
    * hub-quadratic Σ deg² — every join an equi-join, the final top-15 a
    * TakeOrdered, no nested loop anywhere.
    */
  def triangleTop(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val nRow = docs.agg(count(lit(1)).as("n"))
    // canonical ids-only edge set feeds the degree aggregate and three
    // join legs inside the triangle join — materialized once
    val und = matSharedLeg(
      graft.operators.Graph.undirected(linkEdges(docs, nRow), "src", "dst"))
    graft.operators.Graph.triangleCounts(und)
      .orderBy(col("n_tri").desc, col("id").asc).limit(15)
      .select(col("id").as("doc_id"), col("n_tri"))
  }

  /** Local clustering coefficient (q137) — per-node triangle closure
    * over the shared q118/q126 link graph: coeff = 2·triangles /
    * (d·(d−1)), the community-density signal that separates tightly
    * knit link neighborhoods (link farms, boilerplate navigation
    * rings) from organically connected ones. Integer-ppm floored;
    * top-25 by (coeff, id). Same m^{3/2}-bounded triangle join as
    * q126 plus one degree join — nothing new shuffles.
    */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val nRow = docs.agg(count(lit(1)).as("n"))
    // same shared-edge-set materialization as q126 — the coefficient
    // adds a second degree aggregate over the identical edge set
    val und = matSharedLeg(
      graft.operators.Graph.undirected(linkEdges(docs, nRow), "src", "dst"))
    clusteringFromGraph(und)
      .orderBy(col("coeff_ppm").desc, col("doc_id").asc).limit(25)
  }

  /** Per-node coefficient table over a canonical undirected edge set —
    * exposed for the hand-graph spec. */
  private[graft] def clusteringFromGraph(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val tri = graft.operators.Graph.triangleCounts(und)
    deg.join(tri, Seq("id"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .filter(col("d") >= 2)
      .withColumn("coeff_ppm",
        floor((col("n_tri") * lit(2000000.0)) / (col("d") * (col("d") - lit(1L))))
          .cast("long"))
      .select(col("id").as("doc_id"), col("d"), col("n_tri"), col("coeff_ppm"))
  }

  /** Source-to-source Jaccard from GROUP-LEVEL MinHash signatures —
    * the similarity-side member of the mergeable-sketch family (KMV
    * q105/q120 = distinct, CMS q112 = frequency, MinHash here =
    * similarity): a corpus-level signature per source whose components
    * are `min over the source's bigram-shingle hashes of
    * splitmix64(h XOR seed_i)`. MIN distributes over set union, so
    * per-shard signatures merge element-wise into exactly the
    * corpus signature (the property `MinHashSpec` pins on the native
    * per-doc expression) — the sketch-table shape again: store m longs
    * per (source × shard), compare sources without ever joining their
    * shingle sets. The exact Jaccard (intersection/union counts) rides
    * along as the gate, with both ratios floored to integer ppm.
    *
    * Engine shape: the signature build is ONE hash aggregate whose
    * projection computes the m=32 seeded mixes per row map-side (no
    * row×m explosion); the pairwise compare runs over sources² rows of
    * m longs — group-count-sized, never corpus-sized. The exact leg
    * self-joins distinct (source, shingle-hash) pairs — the leg a
    * 100 TB run drops once the estimator is trusted.
    */
  def sourceMinhash(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{CmsSketch, TextHashExpressions}
    val m = 32
    // post-distinct (source, hash) leg with FOUR consumers (signature
    // aggregate, size aggregate, both self-join legs) — materialized
    // once (see matSharedLeg)
    val sh = matSharedLeg(Tables.documents(s, dir)
      .select(col("source"), explode(TextFunctions.shingles(col("text"), 2)).as("g"))
      .select(col("source"), TextHashExpressions.fnv64(col("g")).as("h"))
      .distinct())
    val sigCols = (0 until m).map { i =>
      min(TextHashExpressions.mix64(
        col("h").bitwiseXOR(lit(CmsSketch.rowSeed(i))))).as(s"m$i")
    }
    val sig = sh.groupBy(col("source")).agg(sigCols.head, sigCols.tail: _*)
    val est = sig.as("a").join(sig.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src1"), col("b.source").as("src2"),
        expr(s"CAST((${(0 until m).map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")}) * 1000000 div $m AS BIGINT)").as("est_ppm"))
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src1"), col("y.source").as("src2"))
      .agg(count(lit(1)).as("n_inter"))
    est
      .join(inter, Seq("src1", "src2"), "left")
      .join(sizes.select(col("source").as("src1"), col("n").as("n1")), Seq("src1"))
      .join(sizes.select(col("source").as("src2"), col("n").as("n2")), Seq("src2"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("n1") + col("n2") - col("n_inter"))
      .withColumn("exact_ppm", expr("CAST(n_inter * 1000000 div n_union AS BIGINT)"))
      .select(col("src1"), col("src2"), col("n_inter"), col("n_union"),
        col("exact_ppm"), col("est_ppm"))
  }

  /** [[pagerank]]'s iteration core over ANY (src, dst) edge list —
    * exposed for the spec's hand-walked graphs. Integer mass: total
    * 10¹², `base = S div n`, damping 0.85 via `div 100` arithmetic.
    */
  private[graft] def pagerankRanks(docs: DataFrame, nRow: DataFrame,
                                   edges: DataFrame, iters: Int): DataFrame = {
    val S = 1000000000000L
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val base = docs.crossJoin(broadcast(nRow))
      .select(col("doc_id").as("id"), expr(s"$S div n").as("base"))
    var ranks = base.select(col("id"), col("base").as("rank"))
    for (_ <- 1 to iters) {
      val inflow = edges
        .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("id"), expr("rank div outdeg").as("contrib"))
        .groupBy(col("id")).agg(sum(col("contrib")).as("inflow"))
      ranks = base
        .join(inflow, Seq("id"), "left")
        .select(col("id"),
          (expr("(15 * base) div 100") +
            expr("(85 * coalesce(inflow, 0)) div 100")).as("rank"))
    }
    ranks
  }

  private[queries] def dedupOracles: Map[String, String] = Map(
    // exact replay of the incremental admission decision: batch×corpus +
    // batch×batch Jaccard (banding == exact at these dials — q20's
    // argument), aggregated per batch doc with the same (jaccard DESC,
    // match_id) best-match tie-break
    "q131_incr_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |d AS (SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        | FROM t),
        |b AS (SELECT doc_id, s FROM d WHERE doc_id % 10 = 0 AND len(s) > 0),
        |e AS (SELECT doc_id, s FROM d WHERE doc_id % 10 <> 0 AND len(s) > 0),
        |pc AS (SELECT id, match_id, j, 'corpus' AS src FROM (
        |  SELECT b.doc_id AS id, e.doc_id AS match_id,
        |   CAST(len(list_intersect(b.s, e.s)) AS DOUBLE)
        |     / (len(b.s) + len(e.s) - len(list_intersect(b.s, e.s))) AS j
        |  FROM b, e) x WHERE j >= 0.7),
        |pb AS (SELECT id, match_id, j, 'batch' AS src FROM (
        |  SELECT a.doc_id AS id, c.doc_id AS match_id,
        |   CAST(len(list_intersect(a.s, c.s)) AS DOUBLE)
        |     / (len(a.s) + len(c.s) - len(list_intersect(a.s, c.s))) AS j
        |  FROM b a JOIN b c ON a.doc_id > c.doc_id) x WHERE j >= 0.7),
        |p AS (SELECT * FROM pc UNION ALL SELECT * FROM pb),
        |agg AS (SELECT id, COUNT(*) AS n_matches,
        |  CAST(SUM(CASE WHEN src = 'corpus' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corpus_matches
        | FROM p GROUP BY id),
        |best AS (SELECT id, match_id AS best_match_id, ROUND(j, 6) AS best_jaccard
        | FROM (SELECT id, match_id, j, ROW_NUMBER() OVER (
        |    PARTITION BY id ORDER BY ROUND(j, 6) DESC, match_id) AS rn FROM p) z
        | WHERE rn = 1),
        |bb AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
        |SELECT bb.doc_id, COALESCE(agg.n_matches, 0) AS n_matches,
        | COALESCE(agg.n_corpus_matches, 0) AS n_corpus_matches,
        | best.best_match_id, best.best_jaccard,
        | COALESCE(agg.n_matches, 0) > 0 AS is_dup
        |FROM bb LEFT JOIN agg ON agg.id = bb.doc_id
        | LEFT JOIN best ON best.id = bb.doc_id""".stripMargin,
    "q123_source_minhash" -> {
      val m = 32
      val seeds = (0 until m).map(i => java.lang.Long.toUnsignedString(
        org.apache.spark.sql.graft.CmsSketch.rowSeed(i)))
      val xCols = seeds.zipWithIndex.map { case (sd, i) =>
        s"xor(h, CAST('$sd' AS UBIGINT)) AS x$i" }.mkString(", ")
      val minCols = (0 until m).map(i =>
        s"MIN(${signedSql(mixSql(s"x$i"))}) AS m$i").mkString(", ")
      val matchSum = (0 until m).map(i =>
        s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH bg AS (SELECT source,
         |   unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
         |  FROM (SELECT source, ${toksSql("text")} AS w FROM documents)),
         |sh AS (SELECT DISTINCT source, ${fnvSql("g")} AS h FROM bg),
         |xs AS (SELECT source, $xCols FROM sh),
         |sig AS (SELECT source, $minCols FROM xs GROUP BY source),
         |est AS (SELECT a.source AS src1, b.source AS src2,
         |   CAST(($matchSum) * 1000000 // $m AS BIGINT) AS est_ppm
         |  FROM sig a JOIN sig b ON a.source < b.source),
         |sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
         |itr AS (SELECT x.source AS src1, y.source AS src2, COUNT(*) AS n_inter
         |  FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source GROUP BY 1, 2)
         |SELECT est.src1, est.src2,
         | COALESCE(itr.n_inter, 0) AS n_inter,
         | s1.n + s2.n - COALESCE(itr.n_inter, 0) AS n_union,
         | CAST(COALESCE(itr.n_inter, 0) * 1000000
         |      // (s1.n + s2.n - COALESCE(itr.n_inter, 0)) AS BIGINT) AS exact_ppm,
         | est.est_ppm
         |FROM est LEFT JOIN itr ON est.src1 = itr.src1 AND est.src2 = itr.src2
         |JOIN sz s1 ON est.src1 = s1.source JOIN sz s2 ON est.src2 = s2.source""".stripMargin
    },
    "q143_kmv_overlap" -> {
      // replay the estimator as order statistics over the shared
      // fnv64∘mix64 hash: per split the k smallest distinct shingle
      // hashes, combined-sketch membership counts, floored divisions —
      // every intermediate an integer or a shared IEEE double (q105's
      // contract, extended to the set-operation estimator)
      val k = 64
      val num = (k - 1).toDouble * math.pow(2, 64)
      s"""WITH t AS (SELECT text,
         |  CASE WHEN (${fnvSql("text")} & 2147483647) % 100 < 80 THEN 'train'
         |       WHEN (${fnvSql("text")} & 2147483647) % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split,
         |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |g AS (SELECT split,
         |  unnest(CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
         |    ELSE [w[i] || ' ' || w[i+1] for i in range(1, len(w))] END) AS sgl
         | FROM t WHERE split <> 'valid'),
         |h0 AS (SELECT DISTINCT split, ${fnvSql("sgl")} AS hraw FROM g),
         |sh AS (SELECT DISTINCT split, ${mixSql("hraw")} AS hu FROM h0),
         |exs AS (SELECT
         |  COUNT(DISTINCT CASE WHEN split = 'train' THEN hu END) AS n_train_exact,
         |  COUNT(DISTINCT CASE WHEN split = 'test' THEN hu END) AS n_test_exact
         | FROM sh),
         |itx AS (SELECT COUNT(*) AS n_intersect_exact FROM
         |  (SELECT hu FROM sh GROUP BY hu HAVING COUNT(DISTINCT split) = 2)),
         |a AS (SELECT hu FROM sh WHERE split = 'train' ORDER BY hu LIMIT $k),
         |b AS (SELECT hu FROM sh WHERE split = 'test' ORDER BY hu LIMIT $k),
         |uk AS (SELECT hu FROM (SELECT hu, ROW_NUMBER() OVER (ORDER BY hu) AS rn
         |  FROM (SELECT hu FROM a UNION SELECT hu FROM b)) WHERE rn <= $k),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS u_size, MAX(hu) AS kth,
         |  CAST(COUNT(CASE WHEN hu IN (SELECT hu FROM a)
         |    AND hu IN (SELECT hu FROM b) THEN 1 END) AS BIGINT) AS m FROM uk),
         |fin AS (SELECT u_size, m,
         |  CASE WHEN u_size < $k THEN u_size
         |       ELSE CAST(FLOOR($num / CAST(kth AS DOUBLE)) AS BIGINT)
         |  END AS n_union_kmv FROM st)
         |SELECT n_train_exact, n_test_exact, n_intersect_exact, n_union_kmv,
         | m * n_union_kmv // u_size AS n_intersect_kmv,
         | m * 1000000 // u_size AS jaccard_kmv_ppm
         |FROM exs, itx, fin""".stripMargin
    },
    "q129_novelty" -> {
      // shingles() is the same bigram builder toksSql feeds everywhere;
      // distinct per (doc, hash) before attribution, min(doc_id) = the
      // first seer, ppm floored — all integer arithmetic
      s"""WITH t AS (SELECT lang, doc_id,
         |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |g AS (SELECT lang, doc_id,
         |  unnest(CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
         |    ELSE [w[i] || ' ' || w[i+1] for i in range(1, len(w))] END) AS sgl
         | FROM t),
         |h AS (SELECT DISTINCT lang, doc_id, ${fnvSql("sgl")} AS hh FROM g),
         |f AS (SELECT hh, MIN(doc_id) AS first_doc FROM h GROUP BY hh)
         |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
         | COUNT(*) AS total_shingles,
         | COUNT(CASE WHEN doc_id = first_doc THEN 1 END) AS total_novel,
         | (COUNT(CASE WHEN doc_id = first_doc THEN 1 END) * 1000000)
         |   // COUNT(*) AS novelty_ppm
         |FROM h JOIN f USING (hh) GROUP BY lang""".stripMargin
    },
    "q128_split_leakage" ->
      s"""WITH RECURSIVE t AS (
         | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         | FROM documents WHERE doc_id < 1000),
         |d AS (
         | SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
         | FROM t),
         |p AS (
         | SELECT a.doc_id AS u, b.doc_id AS v
         | FROM d a JOIN d b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
         |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
         |reach AS (
         | SELECT u AS node, u AS r FROM e
         | UNION
         | SELECT reach.node, e.v AS r FROM reach JOIN e ON reach.r = e.u),
         |cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
         |sp AS (SELECT doc_id,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
         | FROM (SELECT doc_id, (${fnvSql("text")} & 2147483647) % 100 AS bucket
         |       FROM documents WHERE doc_id < 1000)),
         |j AS (SELECT cluster_id, split FROM cl JOIN sp USING (doc_id))
         |SELECT cluster_id, COUNT(*) AS n_docs,
         | COUNT(DISTINCT split) AS n_splits,
         | array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
         |FROM j GROUP BY cluster_id
         |HAVING COUNT(DISTINCT split) >= 2""".stripMargin,
    // group-aware split: q128's component CTE verbatim, then every doc
    // (clustered or singleton) takes its cluster REPRESENTATIVE's
    // (min-id member's) content-hash bucket
    "q144_group_split" ->
      s"""WITH RECURSIVE t AS (
         | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         | FROM documents WHERE doc_id < 1000),
         |d AS (
         | SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
         | FROM t),
         |p AS (
         | SELECT a.doc_id AS u, b.doc_id AS v
         | FROM d a JOIN d b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
         |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
         |reach AS (
         | SELECT u AS node, u AS r FROM e
         | UNION
         | SELECT reach.node, e.v AS r FROM reach JOIN e ON reach.r = e.u),
         |cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
         |b AS (SELECT doc_id, (${fnvSql("text")} & 2147483647) % 100 AS bucket
         |      FROM documents WHERE doc_id < 1000),
         |a AS (SELECT b.doc_id, COALESCE(cl.cluster_id, b.doc_id) AS cluster_id,
         |       b.bucket
         |      FROM b LEFT JOIN cl ON b.doc_id = cl.doc_id),
         |r AS (SELECT cluster_id, bucket AS rep_bucket FROM a
         |      WHERE doc_id = cluster_id)
         |SELECT a.doc_id, a.cluster_id,
         | CASE WHEN r.rep_bucket < 80 THEN 'train'
         |      WHEN r.rep_bucket < 90 THEN 'valid' ELSE 'test' END AS split
         |FROM a JOIN r USING (cluster_id)""".stripMargin,
    "q137_clustering_coeff" ->
      s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
         |e0 AS (SELECT src, dst FROM (
         |   SELECT doc_id AS src,
         |    CASE WHEN j = 1 THEN (doc_id * 31 + 17) % n
         |         WHEN j = 2 THEN doc_id % GREATEST(n // 10, 1)
         |         ELSE (doc_id * doc_id + 7) % n END AS dst
         |   FROM documents CROSS JOIN n CROSS JOIN (SELECT unnest([1, 2, 3]) AS j))
         |  WHERE dst <> src),
         |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
         |        FROM e0),
         |deg AS (SELECT id, COUNT(*) AS d FROM (
         |   SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
         |  GROUP BY id),
         |o AS (SELECT
         |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS s,
         |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS t,
         |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS dt
         |  FROM und JOIN deg du ON und.u = du.id JOIN deg dv ON und.v = dv.id),
         |w AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
         |      FROM o e1 JOIN o e2 ON e1.s = e2.s
         |      WHERE e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t)),
         |tri AS (SELECT a, b, c FROM w JOIN o ON w.b = o.s AND w.c = o.t),
         |tc AS (SELECT doc_id, COUNT(*) AS n_tri FROM (
         |   SELECT unnest([a, b, c]) AS doc_id FROM tri) x GROUP BY doc_id)
         |SELECT deg.id AS doc_id, deg.d, COALESCE(tc.n_tri, 0) AS n_tri,
         | CAST(FLOOR(COALESCE(tc.n_tri, 0) * 2000000.0
         |   / CAST(deg.d * (deg.d - 1) AS DOUBLE)) AS BIGINT) AS coeff_ppm
         |FROM deg LEFT JOIN tc ON tc.doc_id = deg.id
         |WHERE deg.d >= 2
         |ORDER BY coeff_ppm DESC, doc_id ASC LIMIT 25""".stripMargin,
    "q126_triangles" ->
      s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
         |e0 AS (SELECT src, dst FROM (
         |   SELECT doc_id AS src,
         |    CASE WHEN j = 1 THEN (doc_id * 31 + 17) % n
         |         WHEN j = 2 THEN doc_id % GREATEST(n // 10, 1)
         |         ELSE (doc_id * doc_id + 7) % n END AS dst
         |   FROM documents CROSS JOIN n CROSS JOIN (SELECT unnest([1, 2, 3]) AS j))
         |  WHERE dst <> src),
         |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
         |        FROM e0),
         |deg AS (SELECT id, COUNT(*) AS d FROM (
         |   SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
         |  GROUP BY id),
         |o AS (SELECT
         |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS s,
         |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS t,
         |   CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS dt
         |  FROM und JOIN deg du ON und.u = du.id JOIN deg dv ON und.v = dv.id),
         |w AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
         |      FROM o e1 JOIN o e2 ON e1.s = e2.s
         |      WHERE e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t)),
         |tri AS (SELECT a, b, c FROM w JOIN o ON w.b = o.s AND w.c = o.t),
         |x AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
         |SELECT doc_id, COUNT(*) AS n_tri FROM x GROUP BY doc_id
         |ORDER BY n_tri DESC, doc_id ASC LIMIT 15""".stripMargin,
    "q118_pagerank" ->
      s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
         |e AS (SELECT src, dst FROM (
         |   SELECT doc_id AS src,
         |    CASE WHEN j = 1 THEN (doc_id * 31 + 17) % n
         |         WHEN j = 2 THEN doc_id % GREATEST(n // 10, 1)
         |         ELSE (doc_id * doc_id + 7) % n END AS dst
         |   FROM documents CROSS JOIN n CROSS JOIN (SELECT unnest([1, 2, 3]) AS j))
         |  WHERE dst <> src),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         |base AS (SELECT doc_id AS id, 1000000000000 // n AS base FROM documents CROSS JOIN n),
         |r0 AS (SELECT id, base AS rank FROM base),
         |c1 AS (SELECT e.dst AS id, CAST(SUM(r0.rank // deg.outdeg) AS BIGINT) AS inflow
         |       FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         |r1 AS (SELECT base.id, (15 * base) // 100 + (85 * COALESCE(inflow, 0)) // 100 AS rank
         |       FROM base LEFT JOIN c1 ON base.id = c1.id),
         |c2 AS (SELECT e.dst AS id, CAST(SUM(r1.rank // deg.outdeg) AS BIGINT) AS inflow
         |       FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         |r2 AS (SELECT base.id, (15 * base) // 100 + (85 * COALESCE(inflow, 0)) // 100 AS rank
         |       FROM base LEFT JOIN c2 ON base.id = c2.id),
         |c3 AS (SELECT e.dst AS id, CAST(SUM(r2.rank // deg.outdeg) AS BIGINT) AS inflow
         |       FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY e.dst),
         |r3 AS (SELECT base.id, (15 * base) // 100 + (85 * COALESCE(inflow, 0)) // 100 AS rank
         |       FROM base LEFT JOIN c3 ON base.id = c3.id)
         |SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank
         |FROM r3 ORDER BY rank DESC, id ASC LIMIT 20""".stripMargin,
    "q97_span_scrub" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS w FROM documents),
         |wins AS (SELECT doc_id, unnest(range(1, len(w) - 13)) AS wp, w FROM t),
         |h AS (SELECT doc_id, CAST(wp - 1 AS BIGINT) AS pos,
         |       ${fnvSql("array_to_string(w[CAST(wp AS INT):CAST(wp+14 AS INT)], ' ')")} AS hh
         |      FROM wins),
         |dph AS (SELECT hh, COUNT(DISTINCT doc_id) AS n_docs_with FROM h GROUP BY hh),
         |s AS (SELECT doc_id, pos FROM h JOIN dph USING (hh) WHERE n_docs_with >= 2),
         |cov AS (SELECT DISTINCT doc_id, p
         |        FROM (SELECT doc_id, unnest(range(pos, pos + 15)) AS p FROM s)),
         |tok AS (SELECT t.doc_id, unnest(range(0, len(w))) AS p, w FROM t
         |        JOIN (SELECT DISTINCT doc_id FROM s) a USING (doc_id)),
         |k AS (SELECT tok.doc_id, tok.p, w[CAST(tok.p + 1 AS INT)] AS tk,
         |        cov.p IS NOT NULL AS covered
         |      FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p)
         |SELECT doc_id, COUNT(*) AS n_tok,
         | COUNT(CASE WHEN covered THEN 1 END) AS n_removed,
         | md5(COALESCE(array_to_string(
         |   list(tk ORDER BY p) FILTER (WHERE NOT covered), ' '), '')) AS scrub_md5
         |FROM k GROUP BY doc_id""".stripMargin,
    "q95_dup_span_extents" ->
      // the window-position alias must avoid `i` — fnvSql's per-character
      // list_transform lambda binds `i` and would capture it
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS w FROM documents),
         |wins AS (SELECT doc_id, unnest(range(1, len(w) - 13)) AS wp, w FROM t),
         |h AS (SELECT doc_id, CAST(wp - 1 AS BIGINT) AS pos,
         |       ${fnvSql("array_to_string(w[CAST(wp AS INT):CAST(wp+14 AS INT)], ' ')")} AS hh
         |      FROM wins),
         |dph AS (SELECT hh, COUNT(DISTINCT doc_id) AS n_docs_with FROM h GROUP BY hh),
         |s AS (SELECT doc_id, pos FROM h JOIN dph USING (hh) WHERE n_docs_with >= 2),
         |m AS (SELECT doc_id, pos,
         |  MAX(pos + 14) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
         | FROM s),
         |i AS (SELECT doc_id, pos,
         |  SUM(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end + 1
         |           THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         | FROM m)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         | CAST(MAX(pos + 14) AS BIGINT) AS span_end, COUNT(*) AS n_windows
         |FROM i GROUP BY doc_id, island""".stripMargin,
    "q94_bloom_decontam" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS w FROM documents),
         |d AS (SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                 for i in range(1, len(w)-1)]) AS s
         | FROM t),
         |ev AS (SELECT DISTINCT unnest(s) AS shingle FROM d WHERE doc_id % 100 = 0),
         |tr AS (SELECT doc_id, unnest(s) AS shingle FROM d WHERE doc_id % 100 <> 0)
         |SELECT doc_id, COUNT(*) AS n_shared
         |FROM tr JOIN ev USING (shingle)
         |GROUP BY doc_id HAVING COUNT(*) >= 3""".stripMargin,
    "q92_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, source, ${toksSql("text")} AS w FROM documents),
         |wins AS (SELECT doc_id, unnest(list_distinct(
         |   [array_to_string(w[i:i+14], ' ') for i in range(1, len(w) - 13)])) AS win
         | FROM t),
         |sh AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY win) AS n_with FROM wins),
         |pd AS (SELECT doc_id, COUNT(*) AS n_windows,
         |        COUNT(CASE WHEN n_with >= 2 THEN 1 END) AS n_shared_windows
         |       FROM sh GROUP BY doc_id),
         |f AS (SELECT d.source,
         |  CASE WHEN pd.doc_id IS NULL THEN 0.0
         |       ELSE FLOOR(CAST(n_shared_windows AS DOUBLE) / n_windows * 1e6) / 1e6
         |  END AS dup_frac
         | FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         | COUNT(CASE WHEN dup_frac >= 0.5 THEN 1 END) AS n_flagged,
         | ${davgSql("dup_frac")} AS avg_dup_frac
         |FROM f GROUP BY source""".stripMargin,
    "q83_cross_dedup" ->
      """WITH t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents WHERE doc_id < 2000),
        |d AS (
        | SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        | FROM t)
        |SELECT id_l, id_r, ROUND(j, 6) AS jaccard FROM (
        | SELECT a.doc_id AS id_l, b.doc_id AS id_r,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        | FROM d a JOIN d b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0) x
        |WHERE j >= 0.5""".stripMargin,
    "q15_dedup_exact" ->
      """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY source""".stripMargin,
    "q20_minhash_lsh" ->
      """WITH t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents),
        |d AS (
        | SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        | FROM t)
        |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        | FROM d a JOIN d b ON a.doc_id < b.doc_id) x
        |WHERE j >= 0.7""".stripMargin,
    "q21_simhash" ->
      s"""WITH $simhashVotesSql,
         |su AS (SELECT doc_id, $simhashUnsignedPackSql AS us FROM sv)
         |SELECT d.doc_id, COALESCE(${signedSql("us")}, 0) AS simhash
         |FROM documents d LEFT JOIN su ON d.doc_id = su.doc_id""".stripMargin,
    "q22_jaccard_pairs" ->
      """WITH t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents WHERE doc_id < 1000),
        |d AS (
        | SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        | FROM t)
        |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
        | FROM d a JOIN d b ON a.doc_id < b.doc_id) x
        |WHERE j >= 0.5""".stripMargin,
    // sv has one row per doc with >= 1 token, so the inner join mirrors
    // the engine's token-less-document exclusion (empty docs all hash
    // to 0 and would pair quadratically — see Dedup.simHashNearDups)
    "q32_simhash_neardup" ->
      s"""WITH $simhashVotesSql,
         |alld AS (SELECT doc_id, $simhashUnsignedPackSql AS us FROM sv)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.us, b.us)) AS INT) AS hamming
         |FROM alld a JOIN alld b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.us, b.us)) <= 7""".stripMargin,
    "q45_dup_clusters" ->
      """WITH RECURSIVE t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents WHERE doc_id < 1000),
        |d AS (
        | SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        | FROM t),
        |p AS (
        | SELECT a.doc_id AS u, b.doc_id AS v
        | FROM d a JOIN d b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
        |reach AS (
        | SELECT u AS node, u AS r FROM e
        | UNION
        | SELECT reach.node, e.v AS r FROM reach JOIN e ON reach.r = e.u)
        |SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node""".stripMargin,
    "q49_normalized_dedup" ->
      """SELECT source, COUNT(*) AS n_docs,
        | COUNT(DISTINCT md5(lower(trim(regexp_replace(
        |   text, '[[:punct:][:space:]]+', ' ', 'g'))))) AS n_unique_normalized
        |FROM documents GROUP BY source""".stripMargin,
    "q54_dedup_survivors" ->
      """WITH RECURSIVE t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents WHERE doc_id < 1000),
        |d AS (
        | SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        | FROM t),
        |p AS (
        | SELECT a.doc_id AS u, b.doc_id AS v
        | FROM d a JOIN d b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
        |reach AS (
        | SELECT u AS node, u AS r FROM e
        | UNION
        | SELECT reach.node, e.v AS r FROM reach JOIN e ON reach.r = e.u),
        |dropped AS (
        | SELECT node AS doc_id FROM reach GROUP BY node
        | HAVING MIN(r) <> node)
        |SELECT lang, COUNT(*) AS n_survivors
        |FROM documents
        |WHERE doc_id < 1000 AND doc_id NOT IN (SELECT doc_id FROM dropped)
        |GROUP BY lang""".stripMargin,
    "q101_quality_survivors" ->
      s"""WITH RECURSIVE t AS (
         | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         | FROM documents WHERE doc_id < 1000),
         |d AS (
         | SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
         | FROM t),
         |p AS (
         | SELECT a.doc_id AS u, b.doc_id AS v
         | FROM d a JOIN d b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
         |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
         |reach AS (
         | SELECT u AS node, u AS r FROM e
         | UNION
         | SELECT reach.node, e.v AS r FROM reach JOIN e ON reach.r = e.u),
         |c AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
         |qt AS (SELECT doc_id, text, ${toksSql("text")} AS w
         | FROM documents WHERE doc_id < 1000),
         |q AS (
         | SELECT doc_id, ROUND((
         |  LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) +
         |  GREATEST(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
         |    ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
         |         / length(text) END) * 5.0) +
         |  LEAST((CASE WHEN len(w) = 0 THEN 0.0
         |    ELSE CAST(len(list_filter(w,
         |           t -> t IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |         / len(w) END) * 4.0, 1.0)) / 3.0, 6) AS q
         | FROM qt),
         |m AS (SELECT c.cluster_id, c.doc_id, q.q FROM c JOIN q USING (doc_id)),
         |mx AS (SELECT cluster_id, COUNT(*) AS n_members, MAX(q) AS kept_score
         |       FROM m GROUP BY cluster_id)
         |SELECT mx.cluster_id, MIN(m.doc_id) AS kept_doc_id, mx.n_members,
         |       mx.kept_score
         |FROM mx JOIN m ON m.cluster_id = mx.cluster_id AND m.q = mx.kept_score
         |GROUP BY mx.cluster_id, mx.n_members, mx.kept_score""".stripMargin,
    "q103_cdc_dedup" ->
      s"""WITH t AS (SELECT lang, ${toksSql("text")} AS w FROM documents),
         |c AS (SELECT lang, w,
         |  [p for p in range(1, len(w) + 1)
         |   if ${fnvSql("w[p]")} % 8 = 0] AS cuts FROM t),
         |b AS (SELECT lang, w,
         |  list_prepend(1, list_transform(cuts, x -> x + 1)) AS ss,
         |  list_append(cuts, len(w)) AS ee, len(cuts) AS nc FROM c),
         |ch AS (SELECT lang, unnest([
         |   {'h': ${fnvSql("array_to_string(list_slice(w, ss[k], ee[k]), ' ')")},
         |    'n': ee[k] - ss[k] + 1}
         |   for k in range(1, nc + 2) if ss[k] <= ee[k]]) AS cc FROM b),
         |g AS (SELECT lang, cc['h'] AS h, COUNT(*) AS cnt, MAX(cc['n']) AS nt
         |      FROM ch GROUP BY 1, 2)
         |SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
         | COUNT(*) AS n_unique_chunks,
         | CAST(SUM(cnt * nt) AS BIGINT) AS total_tokens,
         | CAST(SUM((cnt - 1) * nt) AS BIGINT) AS dup_tokens
         |FROM g GROUP BY lang""".stripMargin,
    "q55_decontam" ->
      s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS w FROM documents),
         |d AS (SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                 for i in range(1, len(w)-1)]) AS s
         | FROM t),
         |ev AS (SELECT DISTINCT unnest(s) AS shingle FROM d WHERE doc_id % 100 = 0),
         |tr AS (SELECT doc_id, unnest(s) AS shingle FROM d WHERE doc_id % 100 <> 0)
         |SELECT doc_id, COUNT(*) AS n_shared
         |FROM tr JOIN ev USING (shingle)
         |GROUP BY doc_id HAVING COUNT(*) >= 3""".stripMargin,
    "q65_containment" ->
      """WITH t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents WHERE doc_id < 1000),
        |d AS (
        | SELECT doc_id,
        |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
        | FROM t WHERE len(w) >= 2)
        |SELECT id_inner, id_outer, ROUND(c, 6) AS containment FROM (
        | SELECT a.doc_id AS id_inner, b.doc_id AS id_outer,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS c
        | FROM d a JOIN d b
        |   ON (len(b.s) > len(a.s) OR (len(b.s) = len(a.s) AND a.doc_id < b.doc_id))) x
        |WHERE c >= 0.8""".stripMargin,
    "q72_curation" -> {
      val stop = "('the','a','an','and','or','of','to','in','is','on','for','with')"
      val punctRatio = "CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
        "CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)" +
        " / length(text) END"
      s"""WITH RECURSIVE base AS (
         | SELECT doc_id, text, lang FROM documents
         | WHERE doc_id < 1000 AND doc_id % 100 <> 0),
         |evald AS (SELECT text FROM documents
         | WHERE doc_id < 1000 AND doc_id % 100 = 0),
         |nh AS (SELECT doc_id, text, lang,
         |  md5(lower(trim(regexp_replace(text, '[[:punct:][:space:]]+', ' ', 'g')))) AS h
         | FROM base),
         |ded AS (SELECT doc_id, text, lang FROM (
         |  SELECT doc_id, text, lang,
         |   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM nh) z
         | WHERE rn = 1),
         |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM ded),
         |d AS (SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s FROM t),
         |p AS (SELECT a.doc_id AS u, b.doc_id AS v
         | FROM d a JOIN d b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
         |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
         |reach AS (
         | SELECT u AS node, u AS r FROM e
         | UNION
         | SELECT reach.node, e.v AS r FROM reach JOIN e ON reach.r = e.u),
         |dropped AS (SELECT node AS doc_id FROM reach GROUP BY node HAVING MIN(r) <> node),
         |surv AS (SELECT doc_id, text, lang FROM ded
         | WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
         |qt AS (SELECT doc_id, text, lang, ${toksSql("text")} AS w FROM surv),
         |qual AS (SELECT doc_id, text, lang FROM qt
         | WHERE ROUND((
         |   LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |   + GREATEST(0.0, 1.0 - ($punctRatio) * 5.0)
         |   + LEAST((CASE WHEN len(w) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(w, x -> x IN $stop)) AS DOUBLE) / len(w) END) * 4.0, 1.0)
         |  ) / 3.0, 6) >= 0.3),
         |dq AS (SELECT doc_id,
         |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                 for i in range(1, len(w)-1)]) AS s
         | FROM (SELECT doc_id, ${toksSql("text")} AS w FROM qual) zq),
         |de AS (SELECT DISTINCT unnest(s) AS shingle FROM (
         |  SELECT list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                        for i in range(1, len(w)-1)]) AS s
         |  FROM (SELECT ${toksSql("text")} AS w FROM evald) ze) zs),
         |contaminated AS (SELECT doc_id FROM (
         |  SELECT doc_id, unnest(s) AS shingle FROM dq) x
         | JOIN de USING (shingle) GROUP BY doc_id HAVING COUNT(*) >= 3),
         |clean AS (SELECT doc_id, text, lang FROM qual
         | WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |sp AS (SELECT lang,
         |  CASE WHEN (${fnvSql("text")} & 2147483647) % 100 < 80 THEN 'train'
         |       WHEN (${fnvSql("text")} & 2147483647) % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         | FROM clean)
         |SELECT lang, split, COUNT(*) AS n_docs FROM sp GROUP BY 1, 2""".stripMargin
    },
  )
}
