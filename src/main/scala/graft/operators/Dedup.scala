package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for training-data curation at 100 TB.
  *
  * Exact dedup is a hash-groupBy (one shuffle on the content hash — the
  * hash is computed map-side so the shuffle carries 32 bytes per row, not
  * the document). Near-dup goes shingles → MinHash signature → LSH band
  * bucketing → bucket-join candidates → Jaccard verification; the join is
  * on (band, bucket-hash) so only colliding documents ever meet, which is
  * the property that lets this run where an all-pairs O(n²) compare cannot.
  */
object Dedup {

  /** Exact duplicate groups by content hash. `md5` keeps the oracle
    * cross-checkable (DuckDB computes the identical digest).
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Streaming exact dedup: drop re-deliveries of the same id while the
    * event-time watermark bounds the dedup state (ids older than the
    * watermark are forgotten — exactly the guarantee a 100 TB/day stream
    * needs to keep state finite).
    */
  def streamingDedup(events: DataFrame, idCols: Seq[String],
                     tsCol: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Keep one row per distinct content hash (the minimum doc_id wins —
    * deterministic, unlike dropDuplicates which keeps an arbitrary row).
    */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum over the document's shingle set. Shingle base hashes come
    * straight off the token-hash array (no shingle strings —
    * TextFunctions.shingleHashes); the k seeded minima come from ONE
    * native codegen'd pass ([[org.apache.spark.sql.graft.MinHashOps]]) —
    * no per-seed lambda interpretation or intermediate arrays, zero
    * shuffles. A doc with NO shingles has NO signature (null) —
    * otherwise every short/empty doc would share one LSH bucket in every
    * band and the bucket join would go quadratic in their count.
    */
  def minHash(docs: DataFrame, textCol: String, numHashes: Int, shingleSize: Int): DataFrame =
    docs.withColumn("minhash",
      org.apache.spark.sql.graft.MinHashExpressions.minhashSignature(
        TextFunctions.shingleHashes(col(textCol), shingleSize), numHashes))

  /** LSH banding: signature of r·b hashes → b band keys, each the hash of
    * one r-slice. Documents sharing any band key are candidate pairs.
    */
  def lshBands(withSignature: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    withSignature
      .withColumn("band",
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band_id"),
            // xxhash64 hashes the long-array slice directly (no stringify)
            xxhash64(slice(col("minhash"), b * rowsPerBand + 1, lit(rowsPerBand)), b).as("bucket")))))
      .select(col("*"), col("band.band_id").as("band_id"), col("band.bucket").as("bucket"))
      .drop("band", "minhash")

  /** Candidate near-duplicate pairs via the LSH bucket self-join, verified
    * with exact shingle-set Jaccard. `idCol` ordering (a < b) halves the
    * join output and removes self-pairs.
    */
  /** `materializeIndex = false` (default) builds one lazy DAG: the banded
    * index is recomputed by each self-join branch — two map-side passes
    * over the corpus, zero index materialization, one job end-to-end. The
    * right shape for a one-shot batch pipeline (recompute beats the write
    * amplification of persisting a corpus-sized index, and there is no
    * cache lifetime to manage). `materializeIndex = true` persists the
    * banded index and eagerly checkpoints the candidate set — pay the
    * materialization once, reuse across the actions of an interactive or
    * multi-query session.
    */
  def nearDuplicatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      jaccardThreshold: Double = 0.7,
      materializeIndex: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // Bands carry only the id — the ×bands row amplification of the
    // explode must not also amplify document bytes through the shuffle.
    val sig = minHash(docs.select(col(idCol), col(textCol)), textCol, numHashes, shingleSize)
      .filter(col("minhash").isNotNull) // shingle-less docs can't near-dup
    val bandedLazy = lshBands(sig, bands, r).select(col(idCol), col("band_id"), col("bucket"))
    val banded =
      if (materializeIndex)
        bandedLazy.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else bandedLazy
    val a = banded.select(col(idCol).as("id_a"), col("band_id"), col("bucket"))
    val b = banded.select(col(idCol).as("id_b"), col("band_id"), col("bucket"))
    val candidatesLazy = a.join(b, Seq("band_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // Materialized mode: eagerly checkpointing the (small, ids-only)
    // candidate set truncates lineage back through `banded`, so the
    // cached index can be released HERE instead of leaking until the
    // ContextCleaner gets around to it.
    val candidates =
      if (materializeIndex) {
        val c = candidatesLazy.localCheckpoint(true)
        banded.unpersist(false)
        c
      } else candidatesLazy
    // Hash sets join back only for the (small) candidate set — the same
    // ascending-distinct shingle-hash representation the index was built
    // from, so verification is a native sorted-merge count
    // (sorted_intersect_count) instead of re-shingling document strings
    // per pair. Hash-set Jaccard equals string-set Jaccard absent 64-bit
    // FNV collisions inside a pair's union — the equivalence the exact
    // pipeline (exactJaccardPairs) already verifies against its
    // string-based oracle.
    val hsets = docs.select(col(idCol),
      TextFunctions.shingleHashes(col(textCol), shingleSize).as("sh"))
    val sic = org.apache.spark.sql.graft.VectorExpressions.sortedIntersectCount _
    candidates
      .join(hsets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(hsets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", sic(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact all-pairs n-gram Jaccard with AllPairs/PPJoin-style prefix
    * filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08):
    *
    *  1. per doc, the distinct shingle-hash set (8-byte hashes, not
    *     strings — the index shuffle carries fixed-width keys);
    *  2. a global rarity order (document frequency, then hash) over
    *     shingles;
    *  3. each doc indexes only its PREFIX — its (sz − ⌈t·sz⌉ + 1) rarest
    *     shingles. J(A,B) ≥ t needs |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two
    *     sets with that much overlap must collide inside these prefixes
    *     (pigeonhole over the shared global order), so recall is total;
    *  4. candidates also pass the length filter t·|A| ≤ |B| ≤ |A|/t;
    *  5. survivors verify EXACTLY via intersection of the full hash sets.
    *
    * The point at corpus scale: a raw inverted-index join pays Σ df²
    * over shingle document-frequencies — stopword bigrams alone make
    * that quadratic. Prefix indexing drops most of every document's
    * shingles from the index, so the join cost tracks prefix collisions
    * only.
    *
    * The global order here is the hash order itself: each doc's prefix is
    * its numerically-smallest hashes, a per-row `array_sort` + `slice` —
    * no df-statistics shuffle and no per-doc window. Recall is total
    * under ANY global total order; ordering by ascending document
    * frequency instead (one extra aggregate + broadcast of hot-shingle
    * stats) tightens pruning further when a corpus is stopword-skewed,
    * and slots into the same pipeline as a drop-in order key.
    */
  /** `dfOrderHotShingles = M > 0` switches the prefix's global shingle
    * order from raw hash order to ascending-document-frequency order for
    * the top-M hottest shingles (rarest first, hottest LAST — pushed out
    * of every prefix). Recall stays total under ANY total order
    * (pigeonhole); what changes is pruning power: on a stopword-skewed
    * corpus the hash order scatters stopword shingles into prefixes,
    * where each contributes ~df² candidate pairs — df-ordering removes
    * exactly those. Costs one bounded stats pass (top-M collect, ≈16 B/
    * entry broadcast as a map literal) at operator construction.
    */
  def exactJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      threshold: Double,
      materializeIndex: Boolean = false,
      dfOrderHotShingles: Int = 0): DataFrame = {
    // Lazy mode (default): the hash-set relation is recomputed by its
    // three consumers (prefix index ×2, verification) — map-side shingle
    // passes, no materialization, one job. Materialized mode persists it
    // and checkpoints the verified set (multi-action sessions).
    val shLazy = docs.select(
        col(idCol),
        // native shingleHashes output is already ascending-distinct
        TextFunctions.shingleHashes(col(textCol), shingleSize).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    val sh =
      if (materializeIndex)
        shLazy.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else shLazy
    val candidates = jaccardPrefixCandidates(sh, idCol, threshold, dfOrderHotShingles)
    // Verification joins the full hash sets back for candidates only.
    val verified = candidates
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), "id_b")
      // native sorted-merge count — sh arrays are ascending-distinct
      .withColumn("inter", org.apache.spark.sql.graft.VectorExpressions
        .sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    if (materializeIndex) {
      val v = verified.localCheckpoint(true)
      sh.unpersist(false)
      v
    } else verified
  }

  /** Prefix-filtered candidate pairs over a (id, sh, sz) hash-set
    * relation — package-private so specs can measure candidate counts
    * directly. `sh` arrays are ascending-distinct hashes.
    */
  /** Adds `sh_ord`: the shingle-hash array re-sorted under the prefix
    * global order — raw hash order, or (dfOrderHotShingles = M > 0)
    * ascending-document-frequency order for the top-M hottest shingles
    * (hottest LAST, pushed out of every prefix). Shared by the Jaccard
    * and containment prefix filters.
    */
  private def withPrefixOrder(
      sh: DataFrame, dfOrderHotShingles: Int): DataFrame =
    if (dfOrderHotShingles > 0) {
      // Bounded hot-shingle stats: top-M by document frequency. The
      // collect is capped at M rows; everything outside the hot set
      // keeps its hash as the order key (rare by assumption).
      val hot = sh.select(explode(col("sh")).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 1)
        .orderBy(col("df").desc, col("shingle"))
        .limit(dfOrderHotShingles)
        .collect()
      if (hot.isEmpty) sh.withColumn("sh_ord", col("sh"))
      else {
        // rank hot shingles by ASCENDING df so the hottest sort last,
        // after every non-hot shingle
        val ranks: Map[Long, Long] = hot
          .sortBy(r => (r.getLong(1), r.getLong(0)))
          .zipWithIndex.map { case (r, i) => r.getLong(0) -> i.toLong }.toMap
        val rankMap = typedLit(ranks)
        // ONE rank lookup per ELEMENT, not two per comparison: a map
        // literal's lookup is a linear scan of its M entries, so a
        // comparator closing over it costs O(sz·log sz·M) per row.
        // Tagging each hash with its sort key first — (rank, hash)
        // structs, sorted lexicographically, hash projected back — is
        // the same total order (non-hot carry rank −1: before every hot
        // rank ≥ 0, tie-broken by raw hash) at O(sz·M + sz·log sz).
        // try_element_at: missing key → null in BOTH ANSI modes (plain
        // element_at throws under Spark 4's default ANSI).
        sh.withColumn("sh_ord",
          transform(
            array_sort(transform(col("sh"), h => struct(
              coalesce(try_element_at(rankMap, h), lit(-1L)).as("r"),
              h.as("h")))),
            s => s.getField("h")))
      }
    } else sh.withColumn("sh_ord", col("sh"))

  private[operators] def jaccardPrefixCandidates(
      sh: DataFrame, idCol: String, threshold: Double,
      dfOrderHotShingles: Int): DataFrame = {
    val ordered = withPrefixOrder(sh, dfOrderHotShingles)
    // prefix length sz − α + 1 with α = ⌈t·sz⌉, nudged DOWN at FP
    // boundaries (a longer prefix is always safe for recall)
    val prefix = ordered.select(col(idCol), col("sz"),
      explode(slice(col("sh_ord"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1).cast("int"))).as("shingle"))
    val a = prefix.select(col(idCol).as("id_a"), col("sz").as("sz_a"), col("shingle"))
    val b = prefix.select(col(idCol).as("id_b"), col("sz").as("sz_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("sz_b") >= lit(threshold) * col("sz_a") - lit(1e-9) &&
              col("sz_a") >= lit(threshold) * col("sz_b") - lit(1e-9))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(A,B) = |A∩B| / |A| ≥ t for
    * the smaller shingle set A — the "document embedded in a larger
    * document" case symmetric Jaccard misses (a quote, a concatenation, a
    * page wrapped in boilerplate); a real dedup pass runs both.
    *
    * Prefix filtering adapts from [[exactJaccardPairs]]: containment ≥ t
    * forces |A∩B| ≥ ⌈t·|A|⌉, so at most |A| − ⌈t·|A|⌉ of A's shingles
    * fall outside B — A's (|A| − ⌈t·|A|⌉ + 1)-element prefix under the
    * global hash order must hit B (pigeonhole), giving total recall with
    * only the SMALL side prefix-indexed. The big side indexes all its
    * shingles: no length filter exists for containment (B may be
    * arbitrarily larger), which is the fundamental extra cost vs Jaccard —
    * the join tracks Σ_A prefix(A)·df(shingle), so df-skew mitigations
    * (stopword-shingle ordering, AQE skew splitting) matter more here.
    * Survivors verify exactly on the full hash sets (sorted-merge count).
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      threshold: Double,
      dfOrderHotShingles: Int = 0): DataFrame = {
    val sh = docs.select(col(idCol),
        TextFunctions.shingleHashes(col(textCol), shingleSize).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
    val candidates =
      containmentPrefixCandidates(sh, idCol, threshold, dfOrderHotShingles)
    candidates
      .join(sh.select(col(idCol).as("id_inner"), col("sh").as("sh_i"), col("sz").as("sz_i")), "id_inner")
      .join(sh.select(col(idCol).as("id_outer"), col("sh").as("sh_o")), "id_outer")
      .withColumn("inter", org.apache.spark.sql.graft.VectorExpressions
        .sortedIntersectCount(col("sh_i"), col("sh_o")))
      .withColumn("containment", col("inter").cast("double") / col("sz_i"))
      .filter(col("containment") >= threshold)
      .select(col("id_inner"), col("id_outer"), round(col("containment"), 6).as("containment"))
  }

  /** Containment candidate pairs over a (id, sh, sz) hash-set relation —
    * package-private so specs can measure candidate counts. Recall is
    * total under ANY global order (the pigeonhole argument only counts
    * how many of A's shingles can miss B), so df-ordering the inner
    * prefix is a pure pruning win: the containing side indexes ALL its
    * shingles regardless.
    */
  private[operators] def containmentPrefixCandidates(
      sh: DataFrame, idCol: String, threshold: Double,
      dfOrderHotShingles: Int): DataFrame = {
    val ordered = withPrefixOrder(sh, dfOrderHotShingles)
    // inner (contained) side: prefix of the sz − ⌈t·sz⌉ + 1 first hashes
    // under the global order
    val prefix = ordered.select(col(idCol).as("id_inner"), col("sz").as("sz_i"),
      explode(slice(col("sh_ord"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1).cast("int"))).as("shingle"))
    // outer (containing) side: full inverted index (no length bound
    // exists for containment — B may be arbitrarily larger)
    val full = sh.select(col(idCol).as("id_outer"), col("sz").as("sz_o"),
      explode(col("sh")).as("shingle"))
    // orientation: inner is the strictly smaller set; equal sizes orient by id
    prefix.join(full, Seq("shingle"))
      .filter(col("sz_o") > col("sz_i") ||
        (col("sz_o") === col("sz_i") && col("id_inner") < col("id_outer")))
      .select("id_inner", "id_outer")
      .dropDuplicates("id_inner", "id_outer")
  }

  /** CROSS-corpus near-dup pairs: left documents whose n-gram Jaccard
    * with some right document clears the threshold — "dedup the new
    * crawl against the existing training set" without paying for
    * either side's intra-corpus pairs. Same prefix-filter recall
    * argument as [[exactJaccardPairs]] (both sides prefix-index under
    * the shared hash order; overlap ≥ ⌈t·max(|A|,|B|)⌉ forces a prefix
    * collision), same length filter, same sorted-merge verify — but the
    * join is A-prefix ⋈ B-prefix only, so no same-corpus candidate is
    * ever generated or filtered.
    */
  def crossCorpusPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      threshold: Double): DataFrame = {
    def side(docs: DataFrame, tag: String): DataFrame =
      docs.select(col(idCol).as(s"id_$tag"),
          TextFunctions.shingleHashes(col(textCol), shingleSize).as(s"sh_$tag"))
        .withColumn(s"sz_$tag", size(col(s"sh_$tag")))
        .filter(col(s"sz_$tag") > 0)
    def prefix(sh: DataFrame, tag: String): DataFrame =
      sh.select(col(s"id_$tag"), col(s"sz_$tag"),
        explode(slice(col(s"sh_$tag"), lit(1),
          (col(s"sz_$tag") - ceil(lit(threshold) * col(s"sz_$tag") - lit(1e-9)) + 1)
            .cast("int"))).as("shingle"))
    val (l, r) = (side(left, "l"), side(right, "r"))
    val candidates = prefix(l, "l").join(prefix(r, "r"), Seq("shingle"))
      .filter(col("sz_r") >= lit(threshold) * col("sz_l") - lit(1e-9) &&
              col("sz_l") >= lit(threshold) * col("sz_r") - lit(1e-9))
      .select("id_l", "id_r")
      .dropDuplicates("id_l", "id_r")
    candidates
      .join(l.select(col("id_l"), col("sh_l"), col("sz_l")), "id_l")
      .join(r.select(col("id_r"), col("sh_r"), col("sz_r")), "id_r")
      .withColumn("inter", org.apache.spark.sql.graft.VectorExpressions
        .sortedIntersectCount(col("sh_l"), col("sh_r")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_l") + col("sz_r") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Streaming near-duplicate pairs: MinHash-LSH banding applied to a
    * document STREAM. Each arriving document's banded signature joins
    * against other documents' bands within `intervalSeconds` of event
    * time — a watermarked stream-stream self-join on (band, bucket), so
    * each side buffers only rows younger than watermark + interval and
    * state stays bounded by recent traffic, not stream history. Survived
    * candidates verify with exact shingle Jaccard (stateless), and the
    * pair set dedups across bands inside the same watermark bound.
    *
    * This is the curation-pipeline shape for "flag near-dups arriving
    * close together" (crawl bursts, re-posts); cross-history dedup stays
    * a batch join against the corpus index.
    *
    * Bytes discipline: the banded stream carries the distinct
    * shingle-HASH set (8 B per distinct shingle), never the document
    * text — verification is exact Jaccard on the hash sets, identical to
    * [[exactJaccardPairs]]'s verify stage. The ×bands amplification
    * therefore multiplies a compact fixed-width-element array; a
    * zero-amplification variant would band ids only and join the
    * candidate stream back to the doc stream twice (two more stateful
    * joins) — worth it only when shingle sets rival document size.
    */
  def streamingNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      watermarkDelay: String,
      intervalSeconds: Long,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 2,
      jaccardThreshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    def bandedSide(p: String): DataFrame = {
      val sig = docs.select(col(idCol), col(tsCol),
          TextFunctions.shingleHashes(col(textCol), shingleSize).as("sh"))
        .filter(size(col("sh")) > 0) // shingle-less docs can't near-dup
        .withColumn("minhash",
          org.apache.spark.sql.graft.MinHashExpressions.minhashSignature(
            col("sh"), numHashes))
      lshBands(sig, bands, r)
        .select(col(idCol).as(s"${p}_id"), col("sh").as(s"${p}_sh"),
          col(tsCol).as(s"${p}_ts"), col("band_id").as(s"${p}_band"),
          col("bucket").as(s"${p}_bucket"))
        .withWatermark(s"${p}_ts", watermarkDelay)
    }
    val a = bandedSide("a")
    val b = bandedSide("b")
    // The join condition carries ONLY equi-keys + the event-time range.
    // Anything else (id ordering, the verify predicate) breaks
    // StreamingJoinHelper's state-watermark extraction — it aborts on
    // non-time inequalities and installs NO eviction predicates, so join
    // state grows forever (caught by the state-shrink spec). Ordering
    // and verification therefore happen ABOVE the join, behind the
    // stateful pair-dedup, which predicate pushdown can't cross.
    a.join(b,
        col("a_band") === col("b_band") && col("a_bucket") === col("b_bucket") &&
          col("b_ts") >= col("a_ts") - expr(s"INTERVAL $intervalSeconds SECONDS") &&
          col("b_ts") <= col("a_ts") + expr(s"INTERVAL $intervalSeconds SECONDS"))
      // canonical orientation via projection (not a filter — nothing for
      // PushPredicateThroughJoin to push); self-pairs become (x, x)
      .select(
        least(col("a_id"), col("b_id")).as("id_a"),
        greatest(col("a_id"), col("b_id")).as("id_b"),
        // orientation-invariant pair timestamp, computed BEFORE the
        // stateful dedup: which orientation/band-collision survives is
        // run-order dependent, so a_ts alone would be nondeterministic
        least(col("a_ts"), col("b_ts")).as("pair_ts"),
        col("a_ts"), col("a_sh"), col("b_sh"))
      // same pair collides in several bands AND arrives in both
      // orientations; pair state GC'd with the same watermark bound
      // (a_ts stays in scope as the watermarked event-time column)
      .dropDuplicatesWithinWatermark(Seq("id_a", "id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("inter", org.apache.spark.sql.graft.VectorExpressions
        .sortedIntersectCount(col("a_sh"), col("b_sh")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("inter")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"),
        col("pair_ts").as("ts_a"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Connected components over a near-duplicate pair set: every document
    * gets the minimum doc id reachable through pair edges as its
    * `cluster_id` — the canonical-representative step that turns pairwise
    * near-dup output into "keep one per cluster".
    *
    * Algorithm: iterative min-label propagation. Each round every node
    * takes the min of its own label and its neighbors' labels; the
    * fixpoint (no label changed) is exactly per-component minima. Rounds
    * needed = component diameter, and near-dup clusters are dense
    * near-cliques (diameter ≤ 2-3 in practice), so the loop is short.
    * Each round is one key-shuffle join + one aggregate, labels are
    * localCheckpoint'd so lineage doesn't grow linearly with rounds, and
    * nothing wider than (node, label) pairs ever shuffles — the shape
    * that survives a billion-edge graph. For adversarial long-chain
    * graphs (rounds = diameter), use [[connectedComponentsStar]] —
    * alternating large-star/small-star contraction with O(log n)
    * convergence on any shape; near-dup graphs are near-cliques and
    * don't need it.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIterations: Int = 25,
                          driverSideThreshold: Long = 1000000L): DataFrame = {
    // both edge directions from ONE evaluation of `pairs` (a union of two
    // selects would execute the upstream pair pipeline twice)
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("u"), col(bCol).as("v")),
        struct(col(bCol).as("u"), col(aCol).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the union-find fast path reads ids as longs — any other id type
    // (int, string, …) takes the type-agnostic iterative path
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // ONE action decides the path AND fetches the fast path's input
    // (round-15: the former count() + collect() pair cost two whole-job
    // round trips of driver scheduling per CC call — §1.5's driver-gap
    // tax — on top of the same cache materialization). Each partition
    // returns its total row count plus its u<v pairs packed as longs,
    // CAPPED at ~2× its proportional share of the threshold so a
    // pathological partition can never pull more than ~2× the documented
    // driver budget: an overflowing partition returns null and the graph
    // takes the iterative path (correct either way — the cap only
    // decides WHERE the labels are computed).
    val nParts = math.max(1, edges.rdd.getNumPartitions)
    val perPartCap = math.max(4096L, 2L * (driverSideThreshold + 1) / nParts)
    val perPart: Array[(Long, Array[Long])] =
      if (longIds) edges.rdd.mapPartitions { it =>
        var n = 0L
        var overflow = false
        val buf = new scala.collection.mutable.ArrayBuffer[Long](128)
        it.foreach { r =>
          n += 1
          val u = r.getLong(0); val v = r.getLong(1)
          if (u < v) {
            if (!overflow && buf.length / 2 < perPartCap) { buf += u; buf += v }
            else overflow = true
          }
        }
        Iterator.single((n, if (overflow) null else buf.toArray))
      }.collect()
      // non-long ids always take the iterative path — count only
      else Array((edges.count(), null: Array[Long]))
    val edgeCount = perPart.iterator.map(_._1).sum
    val collectOk = longIds && perPart.forall(_._2 != null)
    // edges holds BOTH directions, so compare pairs (= edgeCount/2)
    // against the documented threshold — comparing the doubled count
    // silently halved the fast path's reach
    if (collectOk && edgeCount / 2 <= driverSideThreshold) {
      // Adaptive small-graph path. Near-dup pair sets are a sliver of the
      // corpus (ids only, post-LSH): ≤ `driverSideThreshold` edges is
      // ≈ 16 MB on the driver — union-find solves that in milliseconds,
      // where each distributed iteration would cost whole-job scheduling.
      // This is a bounded collect (the threshold caps driver memory), not
      // a scale leak; graphs above the threshold take the iterative path.
      val spark = pairs.sparkSession
      edges.unpersist(false)
      val es = perPart.iterator.flatMap { case (_, packed) =>
        packed.grouped(2).map(p => (p(0), p(1))) }.toArray
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != root) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // min-id root ⇒ final find() IS the component minimum
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      import spark.implicits._
      nodes.map(n => (n, find(n))).toSeq.toDF("node", "cluster_id")
    } else {
      var labels = edges.select(col("u").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint(true)
      var converged = false
      var i = 0
      while (!converged && i < maxIterations) {
        // candidate labels: my own + each neighbor's current label
        val next = labels
          .union(edges.join(labels.withColumnRenamed("node", "u"), "u")
            .select(col("v").as("node"), col("label")))
          .groupBy(col("node"))
          .agg(min(col("label")).as("label"))
          .localCheckpoint(true)
        converged = next.join(labels.withColumnRenamed("label", "old_label"), "node")
          .filter(col("label") =!= col("old_label"))
          .isEmpty
        labels = next
        i += 1
      }
      edges.unpersist(false)
      // unconverged labels are WRONG labels (a node mid-chain still
      // carries a non-minimum), and downstream keep-rules would silently
      // under-deduplicate — fail loudly instead; graphs with diameter
      // beyond the budget belong on connectedComponentsStar (O(log n))
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIterations rounds " +
            "(graph diameter exceeds budget); raise maxIterations or use " +
            "connectedComponentsStar")
      labels.select(col("node"), col("label").as("cluster_id"))
    }
  }

  /** Star-contraction connected components — the adversarial-graph
    * variant of [[connectedComponents]]. Min-label propagation needs
    * diameter rounds, so a 10⁶-node chain needs 10⁶ shuffles; alternating
    * large-star/small-star contraction [Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14] converges in O(log n)
    * rounds on ANY graph shape:
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its closed neighborhood;
    *  - small-star: with edges directed large→small, every node links its
    *    smaller neighbors (and itself) to that minimum.
    *
    * Both steps preserve connectivity and strictly shrink tall trees into
    * stars; at the fixpoint every edge is (node → component minimum).
    * Per round: two hash aggregates + one join, nothing wider than an id
    * pair shuffles, and the edge set is localCheckpoint'd so lineage
    * stays flat — the same scale shape as the min-label loop.
    *
    * Output matches [[connectedComponents]]: (node, cluster_id = component
    * minimum).
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIterations: Int = 50): DataFrame =
    starContraction(pairs, aCol, bCol, maxIterations)._1

  /** [[connectedComponentsStar]] plus the number of alternation rounds
    * used — exposed so specs can pin the O(log n) convergence bound.
    */
  private[operators] def starContraction(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIterations: Int): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // canonical undirected edges (big, small), self-loops dropped
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
              least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node"))).distinct()
      .localCheckpoint(true)

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      nbrs.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // edges arrive canonical (u > v): Γ(u) here are the smaller nbrs
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = e.join(m, "u")
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIterations) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // fixpoint = identical canonical edge sets (cheap: id pairs only)
      converged =
        next.count() == edges.count() && next.exceptAll(edges).isEmpty
      edges = next
      rounds += 1
    }
    // fixpoint edges are (node → component minimum); roots label
    // themselves. The min-agg is a no-op at fixpoint (one edge per node)
    // and a safe partial answer if maxIterations cut the loop short.
    val labels = nodes
      .join(edges.select(col("u").as("node"), col("v").as("root")), Seq("node"), "left")
      .groupBy(col("node"))
      .agg(min(coalesce(col("root"), col("node"))).as("cluster_id"))
    (labels, rounds)
  }

  /** Exact shingle-set Jaccard between two text columns. */
  def jaccard(textA: org.apache.spark.sql.Column, textB: org.apache.spark.sql.Column,
              shingleSize: Int): org.apache.spark.sql.Column =
    TextFunctions.bind(array_distinct(TextFunctions.shingles(textA, shingleSize))) { sa =>
      TextFunctions.bind(array_distinct(TextFunctions.shingles(textB, shingleSize))) { sb =>
        val inter = size(array_intersect(sa, sb))
        val union = size(sa) + size(sb) - inter
        when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union.cast("double"))
      }
    }

  /** 64-bit SimHash over token hashes: per-bit majority vote of all token
    * FNV-1a values. Hamming-close simhashes ≈ similar token multisets.
    * One native codegen'd expression per row
    * ([[org.apache.spark.sql.graft.TextHashOps.simhash64]]) — a single
    * pass over the token-hash array updating 64 counters, replacing the
    * round-1 formulation of 64 interpreted HOF vote aggregates; the FNV
    * token hash makes the signature reproducible in oracle SQL.
    */
  def simHash(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.TextHashExpressions
    docs.withColumn("simhash",
      TextHashExpressions.simhash64(
        transform(TextFunctions.tokens(col(textCol)), t => TextHashExpressions.fnv64(t))))
  }

  /** SimHash near-duplicate pairs with EXACT recall for hamming ≤ 7,
    * via blocked 16-bit keys + single-bit-flip probes (the fingerprint
    * blocking of Manku/Jain/Sarma, "Detecting Near-Duplicates for Web
    * Crawling", WWW'07 — a public paper): split the 64-bit signature
    * into 4 16-bit blocks; any pair within hamming d ≤ 7 has, by
    * pigeonhole, a block with ≤ ⌊7/4⌋ = 1 differing bit, so probing
    * each doc's 4 block values PLUS their 16 single-bit flips (68 probe
    * keys) against an exact 4-key block index finds every such pair.
    * The codegen'd `bit_count(a ^ b)` then verifies the exact distance.
    *
    * Why not the textbook 8×8-bit banding (which also has full recall
    * at d ≤ 7): an 8-bit band key has 256 distinct values, so the
    * band equi-join generates ~n²/256 candidates PER BAND — ~8×10⁹
    * candidate pairs at 500k docs, measured as a single task trying to
    * allocate a 7.5 GB page at the 100× scale gate. 16-bit keys cut
    * candidates ~30× (17·n²/2¹⁶ per block) for an 8.5× larger — but
    * LINEAR — probe shuffle (68 ids+keys rows/doc): trading O(n²)
    * candidate volume for O(n) shuffle is exactly the trade a 100 TB
    * corpus needs. Shuffle discipline unchanged: ids + keys only.
    */
  def simHashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 7,
      materializeIndex: Boolean = false): DataFrame = {
    require(maxHamming <= 7,
      "4 x 16-bit blocks with 1-bit probes guarantee recall only for d <= 7")
    // Token-less documents all hash to simhash 0 (every vote ties) and
    // would collide pairwise in all four blocks — n_empty²/2 output
    // pairs, the quadratic blow-up the blocking exists to prevent and
    // a real hazard in raw crawls. They carry no near-dup signal, so
    // exclude them — the same guard the MinHash twin applies via its
    // minhash-null filter.
    val simLazy = simHash(docs.select(col(idCol), col(textCol)), textCol)
      .filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol), col("simhash"))
    hammingNearDups(simLazy, idCol, "simhash", maxHamming, materializeIndex)
  }

  /** Blocked hamming-distance near-dup join over ANY 64-bit signature
    * relation — the machinery [[simHashNearDups]] runs over text
    * simhashes, factored out so other fingerprints (image dHash/pHash in
    * [[graft.operators.Media]]) bucket through the identical 4×16-bit
    * block + single-bit-probe scheme. Exact recall for hamming ≤ 7 by
    * the pigeonhole argument documented above; shuffle carries ids +
    * block keys only.
    */
  def hammingNearDups(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 7,
      materializeIndex: Boolean = false): DataFrame =
    hammingNearDupsBlocked(sigs, idCol, sigCol, maxHamming, 4, materializeIndex)

  /** [[hammingNearDups]] generalized over the BLOCK SCHEME: `nBlocks`
    * blocks of 64/nBlocks bits, with single-bit probe flips only when
    * the pigeonhole needs them (⌊maxHamming/nBlocks⌋ = 1; at
    * ⌊maxHamming/nBlocks⌋ = 0 an exact block match already guarantees
    * recall, so each doc probes just its nBlocks own keys). Every
    * supported scheme returns IDENTICAL pairs — recall is exact and the
    * hamming verify is shared — so scheme choice is pure bytes routing:
    * wider blocks (4×16) = more probe rows but ~n²/2^width candidates;
    * narrower (8×8) = 8.5× fewer probe rows but 256× the candidate
    * mass. [[simhashBlockedExchangeBytes]] estimates both;
    * [[simHashNearDupsAuto]] picks by byte budget.
    */
  def hammingNearDupsBlocked(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 7,
      nBlocks: Int = 4,
      materializeIndex: Boolean = false): DataFrame = {
    require(nBlocks > 0 && 64 % nBlocks == 0,
      s"nBlocks must divide 64, got $nBlocks")
    val width = 64 / nBlocks
    val flipsNeeded = maxHamming / nBlocks
    require(flipsNeeded <= 1,
      s"$nBlocks x $width-bit blocks with 1-bit probes guarantee recall " +
        s"only for d <= ${2 * nBlocks - 1}, got maxHamming=$maxHamming")
    // Lazy by default (one job, signature scan recomputed per join
    // branch); materialized mode persists the ids+signature relation
    // (16 B/row — smaller than any exploded index) and checkpoints the
    // pair set — same cache-lifetime discipline as
    // [[nearDuplicatePairs]].
    val sim =
      if (materializeIndex)
        sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sigs
    val mask = if (width == 64) -1L else (1L << width) - 1
    def blockKey(b: Int) =
      shiftrightunsigned(col(sigCol), b * width).bitwiseAND(mask)
    // probe side: exact block value (v = -1) plus each single-bit flip
    // (flips only when the pigeonhole bound requires them)
    val flipRange = if (flipsNeeded == 0) Seq(-1) else -1 until width
    val probes = sim.withColumn("blk",
        explode(array((for { b <- 0 until nBlocks; v <- flipRange } yield struct(
          lit(b).as("block_id"),
          (if (v < 0) blockKey(b)
           else blockKey(b).bitwiseXOR(lit(1L << v))).as("block_key"))): _*)))
      .select(col(idCol).as("id_a"), col(sigCol).as("sim_a"),
        col("blk.block_id"), col("blk.block_key"))
    val index = sim.withColumn("blk",
        explode(array((0 until nBlocks).map(b => struct(
          lit(b).as("block_id"), blockKey(b).as("block_key"))): _*)))
      .select(col(idCol).as("id_b"), col(sigCol).as("sim_b"),
        col("blk.block_id"), col("blk.block_key"))
    // id_a < id_b loses no recall: probes and index both cover every
    // doc, and block matching is symmetric (a ^ flip = b ⇔ b ^ flip = a)
    val pairsLazy = probes.join(index, Seq("block_id", "block_key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
    if (materializeIndex) {
      val p = pairsLazy.localCheckpoint(true)
      sim.unpersist(false)
      p
    } else pairsLazy
  }

  /** Estimated RAW bytes through [[nearDuplicatePairs]]' exchanges —
    * [[Similarity.lshProbeExchangeBytes]]'s pattern for the MinHash
    * family, so the band dial derives from a byte budget before the job
    * runs instead of from a dead executor. Terms:
    *
    *  - band-index join: both self-join branches exchange n·bands thin
    *    (id, band_id, bucket) rows (~40 B with row overhead);
    *  - candidate-pair dedup: MinHash buckets are 64-bit hashes of
    *    r-minima slices, so bucket collisions are (near-)dup pairs, not
    *    occupancy noise — `expectedPairsPerDoc` bounds that answer-set
    *    stream (default 1: a corpus that is ~all duplicates);
    *  - verify joins: BAND-INDEPENDENT — both hash-set branches
    *    exchange n rows carrying the full shingle-hash array
    *    (avgShingles·8 B). This floor must fit the budget on its own;
    *    no band count sheds it.
    *
    * Estimates are raw (pre-compression) like the cosine family's; the
    * wire carries lz4 — SCALING.md's "Budget dials for the
    * MinHash/SimHash families" records the measured ratio.
    */
  def minhashBandExchangeBytes(n: Long, bands: Int, avgShingles: Double,
                               expectedPairsPerDoc: Double = 1.0): Long = {
    val bandBytes = BigInt(n) * bands * (2L * 40L + (expectedPairsPerDoc * 24.0).toLong)
    val verifyBytes = BigInt(2) * n * ((avgShingles * 8.0).toLong + 40L)
    (bandBytes + verifyBytes).min(BigInt(Long.MaxValue)).toLong
  }

  /** Largest band count ≤ `requested` whose estimated exchange fits
    * `budgetBytes` (floor 1). Fewer bands = fewer OR chances for a pair
    * to collide = lower recall at a given threshold — the banding trade
    * (1 − (1 − s^r)^b), now derived from bytes. Precision (r = rows per
    * band) is NOT traded: callers shrink numHashes with bands.
    */
  def minhashBandsForBudget(n: Long, requested: Int, avgShingles: Double,
                            budgetBytes: Long,
                            expectedPairsPerDoc: Double = 1.0): Int = {
    var b = requested
    while (b > 1 &&
      minhashBandExchangeBytes(n, b, avgShingles, expectedPairsPerDoc) > budgetBytes)
      b -= 1
    b
  }

  /** [[nearDuplicatePairs]] with the band count derived from a
    * SHUFFLE-BYTE BUDGET — the [[Similarity.cosineNearDupLshAuto]]
    * policy ported to the MinHash family. The signature length follows
    * the surviving bands (numHashes = rowsPerBand · bands), so each
    * band keeps its full r-hash precision and the clamp sheds exactly
    * the OR-amplification term; at an unconstrained budget the call is
    * IDENTICAL to `nearDuplicatePairs(numHashes = rowsPerBand·bands,
    * bands)` (spec'd pair-identical). One corpus pre-pass measures n
    * and the mean shingle-set size the verify-join floor needs.
    */
  def nearDuplicatePairsAuto(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      jaccardThreshold: Double = 0.7,
      rowsPerBand: Int = 4,
      bands: Int = 4,
      shingleSize: Int = 3,
      shuffleByteBudget: Long = Similarity.DefaultLshShuffleBudgetBytes): DataFrame = {
    require(rowsPerBand > 0 && bands > 0)
    val stats = docs.agg(count(lit(1)),
      avg(size(TextFunctions.shingleHashes(col(textCol), shingleSize)))).first()
    val n = stats.getLong(0)
    val avgShingles = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    val b = minhashBandsForBudget(n, bands, avgShingles, shuffleByteBudget)
    nearDuplicatePairs(docs, idCol, textCol,
      numHashes = rowsPerBand * b, bands = b,
      shingleSize = shingleSize, jaccardThreshold = jaccardThreshold)
  }

  /** Estimated RAW bytes through [[hammingNearDupsBlocked]]'s exchanges
    * at a given block scheme: probe rows (nBlocks · (1 + width·flips)
    * per doc), index rows (nBlocks per doc), and the expected candidate
    * stream under a uniform-signature model (each probe key meets
    * ~n/2^width index rows). The uniform term is the SCHEME cost —
    * true near-dup pairs collide under every scheme and are the
    * answer set, not a layout choice. This is the quadratic-vs-linear
    * trade the simHashNearDups docstring proved by measurement (8-bit
    * bands → 7.5 GB task page at 500k docs); the estimator makes it
    * arithmetic.
    */
  def simhashBlockedExchangeBytes(n: Long, nBlocks: Int, maxHamming: Int): Long = {
    require(nBlocks > 0 && 64 % nBlocks == 0 && maxHamming / nBlocks <= 1)
    val width = 64 / nBlocks
    val keysPerDoc = nBlocks.toLong * (1L + (if (maxHamming / nBlocks > 0) width else 0))
    val rowBytes = 36L // id + 64-bit sig + block_id + block_key + overhead
    val probeAndIndex = BigInt(n) * (keysPerDoc + nBlocks) * rowBytes
    val candidates = BigInt(n) * n * keysPerDoc * 24L / (BigInt(1) << width)
    (probeAndIndex + candidates).min(BigInt(Long.MaxValue)).toLong
  }

  /** [[simHashNearDups]] with the BLOCK SCHEME derived from bytes: every
    * supported scheme returns identical pairs (recall is exact for
    * d ≤ 7 under each — see [[hammingNearDupsBlocked]]), so unlike the
    * cosine/MinHash autos there is no recall dial to clamp and the
    * choice is pure routing: pick the scheme whose estimated exchange
    * is smallest (4×16-bit + flips wins for any n ≳ 3k — linear probe
    * rows beat n²/256 candidates — but the estimator decides from n
    * rather than hard-coding the regime). If even the cheapest scheme
    * exceeds `shuffleByteBudget`, that volume is the answer's own
    * linear floor and still runs — the caller's knob is budget/cluster
    * capacity, not recall.
    */
  def simHashNearDupsAuto(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 7,
      shuffleByteBudget: Long = Similarity.DefaultLshShuffleBudgetBytes): DataFrame = {
    // pigeonhole bound of the widest supported scheme (8 blocks of 8
    // bits, 1 flip each): d ≤ 15 guarantees some block differs in ≤ 1
    // bit; past that NO block scheme here has exact recall — fail with
    // the explanation instead of letting minBy throw on an empty set
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming exceeds the exact-recall bound of every " +
        "supported block scheme (8 blocks × 1-bit flips cover d <= 15 by " +
        "pigeonhole); use a wider-flip hammingNearDupsBlocked scheme " +
        "explicitly if approximate recall is acceptable")
    val n = docs.count()
    val schemes = Seq(4, 8).filter(b => maxHamming / b <= 1)
    val best = schemes.minBy(b => (simhashBlockedExchangeBytes(n, b, maxHamming), b))
    val simLazy = simHash(docs.select(col(idCol), col(textCol)), textCol)
      .filter(size(TextFunctions.tokens(col(textCol))) > 0)
      .select(col(idCol), col("simhash"))
    hammingNearDupsBlocked(simLazy, idCol, "simhash", maxHamming, best)
  }

  /** Bloom-prefiltered benchmark decontamination — the 100 TB route for
    * the q55 n-gram-overlap check. q55's hint-free AQE join is the right
    * plan while the eval n-gram index fits broadcast range and degrades
    * to shuffling the WHOLE corpus shingle stream when it doesn't; this
    * variant compresses the eval index to a FIXED-size Bloom filter
    * (bytes = f(eval n-grams, fpp) — independent of corpus size), probes
    * it inside whole-stage codegen where the corpus scan runs, and only
    * the survivors (true matches + fpp of the corpus stream) ever reach
    * an exchange. The exact verify join after the prefilter removes
    * Bloom false positives, so the OUTPUT is exactly the q55 contract
    * (Bloom filters have no false negatives) — fpp only tunes shuffle
    * volume (~fpp × corpus distinct shingles), never results.
    *
    * Build: partial filters fold executor-side and merge associatively
    * (`treeAggregate`); the driver holds one fixed-size filter, never
    * the hash set. The eval side is scanned twice (count for sizing +
    * build) — persist it upstream if that scan is itself expensive.
    * Shingles travel as 64-bit [[TextFunctions.shingleHashes]] (already
    * distinct per doc), so counts are distinct-shingle counts and
    * nothing string-sized shuffles.
    */
  def bloomDecontaminate(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minShared: Int = 3, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    val evalSh = eval
      .select(explode(TextFunctions.shingleHashes(col(textCol), shingleSize)).as("h"))
      .distinct()
    val nEval = math.max(evalSh.count(), 1L)
    val bloom = evalSh.select(col("h")).rdd.map(_.getLong(0))
      .treeAggregate(BloomFilter.create(nEval, fpp))(
        (f, h) => { f.putLong(h); f },
        (a, b) => { a.mergeInPlace(b); a })
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    train
      .select(col(idCol), explode(TextFunctions.shingleHashes(col(textCol), shingleSize)).as("h"))
      .filter(org.apache.spark.sql.graft.BloomExpressions.mightContainLong(col("h"), bytes))
      .join(evalSh, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Maximal duplicated token ranges per document — the removal list of
    * exact-substring dedup (Lee et al. cut duplicated ranges rather than
    * dropping documents): every `windowTokens`-token window occurring
    * verbatim in ≥2 documents has its covered positions merged into
    * maximal per-document extents (gaps-and-islands over positional
    * window hashes). Windows hash map-side via the native positional
    * expression — fnv64 of the space-joined window string, so the
    * arithmetic replays exactly in an external engine — and only
    * (id, pos, hash) rows ever shuffle.
    * Output: `idCol`, `span_start`/`span_end` (inclusive 0-based token
    * positions), `n_windows` (shared windows merged into the extent).
    */
  def duplicatedSpanExtents(docs: DataFrame, idCol: String, textCol: String,
                            windowTokens: Int): DataFrame = {
    val w = windowTokens
    val wins = docs.select(col(idCol),
        explode(org.apache.spark.sql.graft.ShingleExpressions
          .positionalWindowHashes(col(textCol), w)).as("wh"))
      .select(col(idCol), col("wh").getField("pos").as("pos"),
        col("wh").getField("hash").as("h"))
    val docsPerH = wins.select(col("h"), col(idCol)).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs_with"))
    val shared = wins.join(docsPerH, Seq("h")).filter(col("n_docs_with") >= 2)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val islands = shared
      .withColumn("prev_max_end", max(col("pos") + lit(w - 1))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      // a window starting past prev covered end + 1 opens a new span
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
           max(col("pos") + lit(w - 1)).as("span_end"),
           count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Apply step of exact-substring dedup: CUT [[duplicatedSpanExtents]]'s
    * ranges out of each affected document and return the cleaned text.
    * Each doc's few disjoint extents collapse to one small row; the
    * inner join prunes to the duplicated subset, and the cut is a
    * map-side positional array filter — no token row ever shuffles, so
    * the cost scales with the duplicated subset, not the corpus.
    * Output: `idCol`, `scrubbed_text` (kept tokens re-joined with single
    * spaces), `n_tok` (before), `n_removed`.
    */
  def scrubDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int): DataFrame = {
    val ext = duplicatedSpanExtents(docs, idCol, textCol, windowTokens)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"),
             col("span_end").as("e"))).as("spans"),
           sum(col("span_end") - col("span_start") + 1).as("n_removed"))
    docs.select(col(idCol), col(textCol)).join(ext, Seq(idCol))
      .withColumn("toks", TextFunctions.tokens(col(textCol)))
      // extents are disjoint and in-bounds, so dropping covered
      // positions removes exactly n_removed tokens
      .withColumn("kept", filter(col("toks"), (_, i) =>
        !exists(col("spans"), sp => i.cast("long").between(
          sp.getField("s"), sp.getField("e")))))
      .select(col(idCol),
        concat_ws(" ", col("kept")).as("scrubbed_text"),
        size(col("toks")).cast("long").as("n_tok"),
        col("n_removed"))
  }

  final case class SpanWindow(doc_id: Long, h: Long, ts: java.sql.Timestamp)
  final case class SpanSeen(firstDoc: Long, lastMs: Long)
  final case class SpanDupEvent(
      doc_id: Long, h: Long, first_doc_id: Long, ts: java.sql.Timestamp)

  /** Streaming twin of the duplicated-span detector (q92's
    * [[graft.queries.QueryPack.spanDupFractions]] batch form): as
    * documents ARRIVE, every `windowTokens`-token window whose 64-bit
    * shingle hash was already seen in the stream is emitted as a
    * duplicated-span event carrying the first-seen document — the
    * ingest-time signal a crawl pipeline uses to drop boilerplate
    * before it lands. State is one (firstDoc, lastMs) pair PER DISTINCT
    * WINDOW HASH still inside the retention horizon: event-time timeout
    * evicts a window `retentionSeconds` after its last sighting, so
    * state is bounded by the distinct-window rate × retention — the
    * same finiteness contract as [[streamingDedup]] — not by stream
    * length. First-seen is deterministic per batch ((ts, doc_id)
    * order); shingle hashes are distinct per document, so a document
    * never flags against itself.
    */
  def streamingSpanDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      windowTokens: Int,
      watermarkDelay: String = "10 seconds",
      retentionSeconds: Long = 3600L): org.apache.spark.sql.Dataset[SpanDupEvent] = {
    require(retentionSeconds > 0 && retentionSeconds < Long.MaxValue / 1000L,
      s"retentionSeconds must be positive (and non-overflowing), got $retentionSeconds")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    val wins = docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextFunctions.shingleHashes(col(textCol), windowTokens)).as("h"),
        col(tsCol).as("ts"))
      .as[SpanWindow]

    def update(h: Long, rows: Iterator[SpanWindow],
               state: GroupState[SpanSeen]): Iterator[SpanDupEvent] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
        var seen = state.getOption
        val out = Seq.newBuilder[SpanDupEvent]
        sorted.foreach { r =>
          val t = r.ts.getTime
          seen match {
            case Some(s) =>
              out += SpanDupEvent(r.doc_id, h, s.firstDoc, r.ts)
              seen = Some(s.copy(lastMs = math.max(s.lastMs, t)))
            case None =>
              seen = Some(SpanSeen(r.doc_id, t))
          }
        }
        seen.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + retentionSeconds * 1000L)
        }
        out.result().iterator
      }
    }

    wins.groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Survivor selection by SCORE rather than id: given cluster membership
    * (from [[connectedComponents]]) and a per-id score, keep the
    * highest-scoring member of each cluster, minimum id on score ties —
    * fully deterministic. A real curation pipeline keeps the BEST copy of
    * a duplicate group (longest, highest quality, most recent), not an
    * arbitrary canonical id; this is that selection step as a first-class
    * operator. Output: one row per cluster —
    * (cluster_id, kept_id, n_members, kept_score).
    *
    * Scale shape: membership rows (dup-involved ids only — a sliver of
    * the corpus after near-dup detection) hash-exchange ONCE keyed by
    * cluster_id; the count/max and the tie-broken argmax ride two Window
    * aggregates over that same partitioning (no second exchange, no
    * per-cluster collect, no sort beyond the partition grouping), and the
    * membership⋈score join stays id-keyed upstream of it.
    */
  def bestScoreSurvivors(members: DataFrame, idCol: String, clusterCol: String,
                         scores: DataFrame, scoreIdCol: String,
                         scoreCol: String): DataFrame = {
    val m = members.select(col(idCol).as("id"), col(clusterCol).as("cluster_id"))
      .join(scores.select(col(scoreIdCol).as("id"), col(scoreCol).as("score")),
        Seq("id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    m.withColumn("n_members", count(lit(1)).over(w))
      .withColumn("kept_score", max(col("score")).over(w))
      // second Window pass over the SAME partitioning (no new exchange):
      // the argmax needs kept_score, which the first pass just produced
      .withColumn("kept_id",
        min(when(col("score") === col("kept_score"), col("id"))).over(w))
      .filter(col("id") === col("kept_id"))
      .select(col("cluster_id"), col("kept_id"), col("n_members"),
        col("kept_score"))
  }

  /** The persisted artifacts of an incremental-dedup pipeline: the LSH
    * band index (id, band_id, bucket) and the shingle-hash-set table
    * (id, sh) a deployment writes ONCE for the standing corpus, then
    * probes on every ingest. Both are id-keyed and text-free — the
    * index for a 100 TB corpus is ~bands × 16 B rows, the hash sets
    * ~one long per shingle.
    */
  def minhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
                       numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    lshBands(minHash(docs.select(col(idCol), col(textCol)), textCol,
        numHashes, shingleSize).filter(col("minhash").isNotNull),
        bands, numHashes / bands)
      .select(col(idCol), col("band_id"), col("bucket"))
  }

  /** (id, sh) — the ascending-distinct shingle-hash sets the verify
    * stage of [[incrementalNearDups]] joins against. */
  def shingleHashSets(docs: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int): DataFrame =
    docs.select(col(idCol),
      TextFunctions.shingleHashes(col(textCol), shingleSize).as("sh"))

  /** Incremental ingest dedup — the production shape of near-dup
    * detection at 100 TB: the standing corpus is NOT re-deduped per
    * arrival; an arriving batch probes the corpus's persisted band
    * index ([[minhashBandIndex]]) and checks itself for batch-internal
    * pairs. Per-ingest cost is ∝ |batch| (signature + probe join +
    * verify on the candidate sliver), never ∝ |corpus| — re-running
    * [[nearDuplicatePairs]] over corpus+batch would re-pay the full
    * corpus scan and quadratic bucket joins on every arrival.
    *
    * Output: one row per verified pair —
    * (id, match_id, jaccard, src ∈ {corpus, batch}) with `id` from the
    * batch. Batch-internal pairs appear once with `id` the LATER
    * (higher) id — the keep-FIRST admission orientation: rolling the
    * pair set up by `id` flags the later duplicate and admits the first
    * occurrence, matching the corpus-match orientation (the standing
    * corpus is always "first", the arriving doc the duplicate).
    */
  def incrementalNearDups(
      batch: DataFrame, idCol: String, textCol: String,
      bandIndex: DataFrame, hashSets: DataFrame,
      numHashes: Int, bands: Int, shingleSize: Int,
      jaccardThreshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // Everything batch-derived is BROADCAST: the corpus-side artifacts
    // (band index, hash sets) must only ever be STREAMED — a plain
    // equi-join would hash-exchange the corpus-sized side against an
    // 80k-row probe (measured at 500k docs: 265 MB shuffled, slower
    // than the full re-dedup it replaces; broadcast form: the index and
    // sets are scanned once each, shuffle ≈ the candidate sliver).
    val probe = broadcast(
      minhashBandIndex(batch, idCol, textCol, numHashes, bands, shingleSize))
    val batchSets = shingleHashSets(batch, idCol, textCol, shingleSize)
    val sic = org.apache.spark.sql.graft.VectorExpressions.sortedIntersectCount _
    def verified(cands: DataFrame, matchSets: DataFrame, src: String) =
      broadcast(cands
        .join(broadcast(batchSets.select(col(idCol).as("id"), col("sh").as("sh_a"))),
          "id"))
        .join(matchSets.select(col(idCol).as("match_id"), col("sh").as("sh_b")),
          "match_id")
        .withColumn("inter", sic(col("sh_a"), col("sh_b")))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= jaccardThreshold)
        .select(col("id"), col("match_id"),
          round(col("jaccard"), 6).as("jaccard"), lit(src).as("src"))
    val corpusCands = probe.select(col(idCol).as("id"), col("band_id"), col("bucket"))
      .join(bandIndex.select(col(idCol).as("match_id"), col("band_id"), col("bucket")),
        Seq("band_id", "bucket"))
      .select("id", "match_id").dropDuplicates("id", "match_id")
    val batchCands = probe.select(col(idCol).as("id"), col("band_id"), col("bucket"))
      .join(probe.select(col(idCol).as("match_id"), col("band_id"), col("bucket")),
        Seq("band_id", "bucket"))
      .filter(col("id") > col("match_id"))
      .select("id", "match_id").dropDuplicates("id", "match_id")
    verified(corpusCands, hashSets, "corpus")
      .unionByName(verified(batchCands, batchSets, "batch"))
  }

  /** Close the ingest loop: append an ADMITTED batch's probe artifacts
    * to the persisted index directories, so the NEXT arrival's
    * [[incrementalNearDups]] probe finds this one. `admitted` is the
    * batch minus whatever the admission decision dropped — appending
    * rejected duplicates would make every later copy match the REJECTED
    * doc too, inflating the index with ids that aren't in the corpus.
    *
    * Cost ∝ |admitted|: two signature passes over the batch only, and
    * parquet `append` adds files without touching existing ones — the
    * standing index is never read, rewritten, or compacted here (file-
    * count hygiene is [[graft.operators.Compaction]]'s job, on the
    * manifest, offline). Every probe/append step of a perpetual ingest
    * pipeline therefore does work proportional to its own arrival, never
    * to the corpus.
    */
  def appendToIndex(admitted: DataFrame, idCol: String, textCol: String,
                    bandIndexDir: String, hashSetsDir: String,
                    numHashes: Int, bands: Int, shingleSize: Int): Unit = {
    minhashBandIndex(admitted, idCol, textCol, numHashes, bands, shingleSize)
      .write.mode("append").parquet(bandIndexDir)
    shingleHashSets(admitted, idCol, textCol, shingleSize)
      .filter(size(col("sh")) > 0)
      .write.mode("append").parquet(hashSetsDir)
  }
}
