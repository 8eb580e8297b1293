package graft.tools

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Engine-side closure of q20's sf1 verification gap: the DuckDB twin's
  * list-lambda minhash is ~100× superlinear in corpus size (474 s at 50k
  * docs — SCALING.md), so beyond sf0.1 the oracle is bounded out. This
  * check replaces it with the engine's own exact twin, which IS
  * value-verified against DuckDB (q22's prefix-filtered Jaccard join
  * matches a brute-force oracle): run q20's exact LSH dials and the
  * exact-Jaccard join over the SAME corpus and compare pair sets.
  *
  *  - false positives must be ZERO: every LSH pair is verified with the
  *    same hash-set Jaccard the exact join computes, so any pair the
  *    exact join lacks would mean the two paths disagree on Jaccard
  *    itself (a real bug, not LSH approximation);
  *  - recall = |LSH ∩ exact| / |exact| measures what banding loses
  *    (pairs whose 16 bands all split their matching minhashes).
  *
  * Usage: runMain graft.tools.LshRecallCheck <sfDir> [threshold]
  * Prints one JSON line; exits nonzero on false positives.
  */
object LshRecallCheck {

  /** (lshPairs, exactPairs, falsePositives, recall) over one corpus. */
  def q20VsExact(docs: DataFrame, threshold: Double = 0.7): (Long, Long, Long, Double) = {
    val lsh = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 2, jaccardThreshold = threshold)
      .select("id_a", "id_b")
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text",
        shingleSize = 2, threshold = threshold)
      .select("id_a", "id_b")
    val l = lsh.count()
    val e = exact.count()
    val fp = lsh.join(exact, Seq("id_a", "id_b"), "left_anti").count()
    val recall = if (e == 0) 1.0 else (l - fp).toDouble / e
    (l, e, fp, recall)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.7
    val spark = graft.Sessions.queryPack("graft-lsh-recall")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val t0 = System.nanoTime()
    val (l, e, fp, recall) = q20VsExact(docs, threshold)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"sf":"$sfDir","threshold":$threshold,"lsh_pairs":$l,"exact_pairs":$e,"false_positives":$fp,"recall":$recall%.4f,"secs":$secs%.1f}""")
    spark.stop()
    if (fp > 0) sys.exit(1)
  }
}
