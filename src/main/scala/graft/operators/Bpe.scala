package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge-rule LEARNING — the tokenizer-training step of a
  * data pipeline (Sennrich et al. 2016). [[graft.functions.TextFunctions
  * .bpeTokenCount]] APPLIES a merge table; this learns one.
  *
  * Classic BPE trains on the word-frequency dictionary, not the corpus:
  * one corpus-scale `groupBy(token)` builds (word, count) — corpus-
  * SUBLINEAR, the same reduction SymSpell (q116) rides — and every merge
  * iteration after that touches only the vocabulary. Per iteration:
  * explode adjacent symbol pairs (weighted by word count), one hash
  * aggregate, take the argmax pair (a single driver row — the learned
  * rule itself, like a k-means centroid), and rewrite the vocabulary
  * map-side with a string `replace`. Nothing corpus-sized is touched
  * after the first aggregate; at 100 TB the vocab table is millions of
  * short rows and each iteration is a metadata-scale shuffle.
  *
  * Symbol-sequence encoding (shared with the SQL oracle): a word's
  * symbols are joined with TWO spaces and padded with one — `' h  e  l '`
  * — so the pair (l, r) is the literal substring `' l  r '` and merging
  * is `replace(s, ' l  r ', ' lr ')`. Both engines' `replace` scans
  * left-to-right and resumes AFTER each replacement, which (a) exactly
  * implements BPE's leftmost-non-overlapping merge ('a a a' + (a,a) →
  * '(aa) a'), and (b) preserves the two-space invariant, because each
  * replacement consumes one boundary space from each side and restores
  * both. Symbols can never contain a space (words are whitespace-split),
  * so no false substring match can cross a symbol boundary.
  */
object Bpe {

  /** The (w, s, cnt) word-frequency dictionary with `s` the two-space
    * character segmentation — the ONE corpus-scale aggregate every BPE
    * path starts from. */
  private def charDict(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), regexp_replace(col("w"), "(.)", " $1 ").as("s"), col("cnt"))

  /** The sequential merge-learning loop over an already-materialized
    * (s, cnt) dictionary (callers persist or checkpoint it — each step
    * re-reads it, never the corpus). Returns
    * (step, left, right, merged, pair_count) tuples in step order. */
  private def learnLoop(base: DataFrame, numMerges: Int,
                        checkpointEvery: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab = base
    var lastCp: Option[DataFrame] = None
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    var step = 1
    while (step <= numMerges && !exhausted) {
      val best = vocab
        .select(split(trim(col("s")), "  ").as("t"), col("cnt"))
        // sequence() counts DOWN for size(t) < 2 — single-symbol words
        // have no pairs, drop them before the transform
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), i -> struct(t[i - 1] AS l, t[i] AS r))"))
          .as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, r, pc) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, l, r, l + r, pc))
        vocab = vocab.select(
          call_function("replace", col("s"),
            lit(s" $l  $r "), lit(s" $l$r ")).as("s"),
          col("cnt"))
        if (step % checkpointEvery == 0 && step < numMerges) {
          val cp = vocab.localCheckpoint(true)
          lastCp.foreach(_.unpersist(false))
          lastCp = Some(cp)
          vocab = cp
        }
      } else {
        // no adjacent pair left anywhere in the vocabulary: every later
        // step would see the identical (unchanged) vocab and also come
        // back empty — stop instead of running empty argmax jobs
        exhausted = true
      }
      step += 1
    }
    lastCp.foreach(_.unpersist(false))
    merges.result()
  }

  /** Replay a fixed merge table in rank order over a (w, s, cnt)
    * dictionary — lazy `replace` projections with the same
    * `checkpointEvery` lineage bound as the trainer. */
  private def applyMerges(dict: DataFrame, merges: Seq[(String, String)],
                          checkpointEvery: Int): DataFrame = {
    var vocab = dict
    var applied = 0
    merges.foreach { case (l, r) =>
      vocab = vocab.select(col("w"),
        call_function("replace", col("s"),
          lit(s" $l  $r "), lit(s" $l$r ")).as("s"), col("cnt"))
      applied += 1
      if (applied % checkpointEvery == 0 && applied < merges.length)
        vocab = vocab.localCheckpoint(true)
    }
    vocab.select(col("w"), trim(col("s")).as("symbols"), col("cnt"))
  }

  /** One row per learned merge: (step, left, right, merged, pair_count),
    * `pair_count` being the corpus-weighted occurrence count that made
    * the pair the argmax at its step (ties break lexicographically on
    * (left, right) — deterministic across engines and partitionings).
    *
    * Real tokenizers learn 10³–10⁴ merges, and each step rewrites the
    * vocabulary with one lazy `replace` projection — left unchecked,
    * step t would replay all t−1 prior rewrites from the cached base
    * (O(merges²) replace work) AND analyze a t-deep Catalyst plan
    * (O(merges²) planning). `checkpointEvery` bounds both: every N
    * applied merges the rewritten vocabulary is localCheckpoint'd
    * (eager — plan truncates to a leaf, materialized rows replace the
    * replay), so per-step work is ≤ N replays over the vocab table and
    * total work stays LINEAR in merges for fixed N (measured: see
    * SCALING.md's "BPE merge learning" rows at 64→1024 merges).
    */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  checkpointEvery: Int = 32): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // word-frequency dictionary; symbols start as single characters.
    // The dictionary is the only corpus-scale aggregate; cache it so
    // each merge iteration replays only map-side replaces.
    val base = charDict(docs, textCol).select(col("s"), col("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = learnLoop(base, numMerges, checkpointEvery)
    base.unpersist(false) // merges are already materialized (collected)
    merges.toDF("step", "left", "right", "merged", "pair_count")
  }

  /** The word → symbol-sequence vocabulary AFTER the learned merges —
    * (w, symbols, cnt) with `symbols` two-space-joined. This is the
    * tokenizer a deployment SERVES (the word-level segmentation map);
    * specs assert the rewrite semantics on it and q135 reads per-word
    * subword counts off it.
    *
    * Builds the word dictionary ONCE (eager localCheckpoint) and runs
    * both the learning loop and the merge replay over those
    * materialized rows — learn-then-encode used to pay the corpus-scale
    * token aggregate twice (learnMerges' own dict, then encodeWith's).
    * The checkpoint blocks are executor-local and non-recomputable
    * (executor loss fails the job rather than replaying lineage) and
    * are freed by session GC, not an explicit unpersist — acceptable
    * for a batch trainer invoked once per job; a resident service
    * should persist+unpersist instead.
    */
  def vocabAfter(docs: DataFrame, textCol: String,
                 numMerges: Int, checkpointEvery: Int = 32): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val dict = charDict(docs, textCol).localCheckpoint(true)
    val merges = learnLoop(dict.select(col("s"), col("cnt")),
      numMerges, checkpointEvery).map(m => (m._2, m._3))
    applyMerges(dict, merges, checkpointEvery)
  }

  /** Apply a FROZEN merge table to a corpus — the tokenizer SERVE path:
    * train on one corpus ([[learnMerges]]), encode ANOTHER (held-out
    * splits, new ingest batches) with the rules fixed. Builds the new
    * corpus's word-frequency dictionary (its only corpus-scale
    * aggregate) and replays the merges in rank order over it —
    * unseen words segment down to characters plus whatever learned
    * merges apply inside them, standard BPE open-vocabulary behavior.
    * Returns (w, symbols, cnt) like [[vocabAfter]] (which is now
    * exactly learn-then-encode on the same corpus).
    *
    * Same two-space `replace` semantics as the trainer, same
    * `checkpointEvery` lineage bound: total rewrite work is linear in
    * the merge count for fixed N.
    */
  def encodeWith(docs: DataFrame, textCol: String,
                 merges: Seq[(String, String)],
                 checkpointEvery: Int = 32): DataFrame = {
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    applyMerges(charDict(docs, textCol), merges, checkpointEvery)
  }
}
