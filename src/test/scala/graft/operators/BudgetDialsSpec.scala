package graft.operators

import graft.SparkTest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Byte-budget dials for the MinHash and SimHash near-dup families —
  * the invariants that make the dispatch SAFE: at an unconstrained
  * budget the auto entry points return exactly the fixed-dial pairs;
  * the SimHash block schemes are pair-identical to each other (recall
  * is exact under both, so scheme choice is pure bytes routing); the
  * MinHash clamp only ever sheds OR-amplification (clamped output ⊆
  * full output). Byte calibration against a task-metrics listener is
  * in SCALING.md's "Budget dials for the MinHash/SimHash families".
  */
class BudgetDialsSpec extends AnyFunSuite with SparkTest {

  private lazy val docs = graft.Tables.documents(spark, "/root/testdata/sf0.1")
    .select(col("doc_id"), col("text"))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash auto at an unconstrained budget == the fixed-dial call") {
    val fixed = pairSet(Dedup.nearDuplicatePairs(docs, "doc_id", "text",
      numHashes = 16, bands = 4))
    val auto = pairSet(Dedup.nearDuplicatePairsAuto(docs, "doc_id", "text"))
    assert(fixed.nonEmpty, "test corpus lost its near-dups")
    assert(auto == fixed, "unconstrained auto must not change pairs")
  }

  test("minhash clamp sheds OR-amplification only: clamped pairs are a verified subset") {
    // a 1-byte budget forces bands -> 1; band 0 of the 4-band config
    // hashes the same first-4 minima slice with the same seed, so
    // 1-band candidates are a subset and exact verification keeps that
    val full = pairSet(Dedup.nearDuplicatePairs(docs, "doc_id", "text",
      numHashes = 16, bands = 4))
    val clamped = pairSet(Dedup.nearDuplicatePairsAuto(docs, "doc_id", "text",
      shuffleByteBudget = 1L))
    assert(clamped.subsetOf(full),
      s"clamped output must be a subset (got ${(clamped -- full).size} extras)")
    assert(clamped.nonEmpty,
      "one band still finds identical-text dups on this corpus")
  }

  test("minhash band clamp arithmetic: monotone in budget, floor 1") {
    val n = 50000L; val avgSh = 120.0
    val full = Dedup.minhashBandExchangeBytes(n, 4, avgSh)
    assert(Dedup.minhashBandsForBudget(n, 4, avgSh, full) == 4)
    assert(Dedup.minhashBandsForBudget(n, 4, avgSh, 1L) == 1)
    val bs = Seq(1L, full / 4, full / 2, full, full * 2)
      .map(Dedup.minhashBandsForBudget(n, 4, avgSh, _))
    assert(bs.zip(bs.tail).forall { case (a, b) => a <= b }, s"not monotone: $bs")
  }

  test("simhash block schemes are pair-identical; auto picks by estimate") {
    val sig = Dedup.simHash(docs, "text")
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) > 0)
      .select(col("doc_id"), col("simhash"))
    val four = pairSet(Dedup.hammingNearDupsBlocked(sig, "doc_id", "simhash", 7, 4))
    val eight = pairSet(Dedup.hammingNearDupsBlocked(sig, "doc_id", "simhash", 7, 8))
    assert(four == eight,
      "exact recall under both schemes means identical pairs — routing only")
    val auto = pairSet(Dedup.simHashNearDupsAuto(docs, "doc_id", "text"))
    assert(auto == four, "auto must return the same (exact) answer set")
    // the estimator prefers 4x16+flips once n clears the small-corpus
    // crossover (~3k: 68n probe rows vs 8n^2/256 candidates)
    assert(Dedup.simhashBlockedExchangeBytes(100000, 4, 7) <
      Dedup.simhashBlockedExchangeBytes(100000, 8, 7))
    // ... and 8x8 (no flips) genuinely estimates cheaper when n is tiny
    assert(Dedup.simhashBlockedExchangeBytes(500, 8, 7) <
      Dedup.simhashBlockedExchangeBytes(500, 4, 7))
  }

  test("8-block scheme needs no probe flips for d <= 7 (pigeonhole) and rejects d >= 16") {
    // d=15 over 8 blocks still pigeonholes into a <=1-bit block; d=16 does not
    val sig = Dedup.simHash(docs.limit(50), "text")
      .select(col("doc_id"), col("simhash"))
    Dedup.hammingNearDupsBlocked(sig, "doc_id", "simhash", 15, 8).count()
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingNearDupsBlocked(sig, "doc_id", "simhash", 16, 8)
    }
    assert(e.getMessage.contains("guarantee recall"))
  }

  test("simHashNearDupsAuto rejects maxHamming >= 16 with the pigeonhole explanation") {
    // previously: Seq(4, 8).filter(...) left `schemes` empty and minBy
    // threw an opaque UnsupportedOperationException
    val e = intercept[IllegalArgumentException] {
      Dedup.simHashNearDupsAuto(docs, "doc_id", "text", maxHamming = 16)
    }
    assert(e.getMessage.contains("pigeonhole"),
      s"want the recall-bound explanation, got: ${e.getMessage}")
  }
}
