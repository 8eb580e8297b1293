package graft.operators

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sample-trained quantizer gate ([[Similarity.kMeans]]'s
  * `trainSampleCap`): centroid ESTIMATION on a bounded deterministic
  * sample must hold downstream ANN recall at parity with full-corpus
  * training (≥ 0.99 of the full-trained recall — the scale-path
  * criterion), while the full corpus is only ever scanned ONCE for the
  * final assignment. The 2M-vector build-wall evidence is in
  * SCALING.md ("Sample-trained k-means"); this pins the semantics at
  * suite scale.
  */
class KMeansSampleSpec extends AnyFunSuite with SparkTest {

  private val dim = 64
  private lazy val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
  private lazy val queries = corpus.filter(col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding"))

  /** Planted-family corpus: 16 well-separated unit directions, 1000
    * members each at noise the quantizer must average out — the geometry
    * where centroid ESTIMATION quality is measurable (the sf0.1
    * embeddings are label-random under spherical k-means: purity ~0.14,
    * so recall there measures partition luck, not training). 16k rows
    * with k=16 puts the auto cap (4096) well under the corpus — the
    * sampling path engages at its designed 256-per-centroid density.
    */
  private val pDim = 32
  private lazy val planted = {
    val rng = new scala.util.Random(41)
    val dirs = Array.fill(16)(Array.fill(pDim)(rng.nextGaussian()))
      .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val rows = (0L until 16000L).map { i =>
      val f = (i % 16).toInt
      val v = dirs(f).map(x => (x + 0.25 * rng.nextGaussian()).toFloat)
      (i, v.toSeq, f)
    }
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }
  private lazy val pQueries = planted.filter(col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding"))
  private lazy val pBrute = Similarity.bruteForceTopK(pQueries, planted, 10)
    .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallWith(cap: Int): Double = {
    val (_, cents) = Similarity.kMeans(planted, "vec_id", "embedding",
      k = 16, dim = pDim, iterations = 3, trainSampleCap = cap)
    val relabeled = planted.select(col("vec_id"), col("embedding"),
      Similarity.assignCellsAuto(
        graft.functions.VectorFunctions.normalize(col("embedding")), cents,
        spark.sparkContext).as("label"))
    val spark2 = spark
    import spark2.implicits._
    val cellDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("label", "centroid")
    val got = Similarity.ivfTopK(pQueries, relabeled, 10, pDim,
        nProbes = 4, centroidsOverride = Some(cellDf))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (got & pBrute).size.toDouble / pBrute.size
  }

  test("forced-sample training holds recall at >= 0.99 of full training") {
    // -1 = the auto cap (4096 here, engaged by the 16k corpus at its
    // designed 256-per-centroid density); Int.MaxValue = the
    // pre-sampling full-corpus loop (the A/B baseline)
    val sampled = recallWith(-1)
    val full = recallWith(Int.MaxValue)
    info(f"recall@10: sampled=$sampled%.3f full=$full%.3f")
    assert(full >= 0.9, s"full-trained recall $full too low for the A/B to mean anything")
    assert(sampled >= 0.99 * full,
      s"sample-trained recall $sampled fell below 0.99x full-trained $full")
  }

  test("corpus under the cap trains on everything — bit-identical to full") {
    // auto cap for k=16 is 4096 >= 2000 rows, so the auto path and the
    // forced-full path must produce the SAME centroids (sampling only
    // engages past the cap — no behavior change at suite scales)
    val (_, auto) = Similarity.kMeans(corpus, "vec_id", "embedding",
      16, dim, 2)
    val (_, full) = Similarity.kMeans(corpus, "vec_id", "embedding",
      16, dim, 2, trainSampleCap = Int.MaxValue)
    assert(auto.length == full.length)
    auto.zip(full).foreach { case (a, b) => assert(a.sameElements(b)) }
  }

  test("the training sample is deterministic: same cap, same centroids") {
    val (_, a) = Similarity.kMeans(planted, "vec_id", "embedding",
      16, pDim, 2, trainSampleCap = 2000)
    val (_, b) = Similarity.kMeans(planted.repartition(7), "vec_id", "embedding",
      16, pDim, 2, trainSampleCap = 2000)
    assert(a.length == b.length)
    // seeds and sample MEMBERSHIP are partitioning-independent (hash
    // threshold + id-ordered seed scan); the spherical means are summed
    // floating-point so tolerate ulp-level reassociation drift
    a.zip(b).foreach { case (x, y) =>
      x.zip(y).foreach { case (u, v) => assert(math.abs(u - v) < 1e-9) }
    }
  }

  test("auto cap follows the 256-per-centroid rule") {
    assert(Similarity.trainCapForCells(16) == 4096)
    assert(Similarity.trainCapForCells(1414) == 361984)
    assert(Similarity.trainCapForCells(Int.MaxValue) == Int.MaxValue)
  }
}
