package graft.operators

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates the composed IVF-PQ search ([[Similarity.ivfPqTopK]]) — the
  * production shape q104's flat ADC lacks: routing bounds per-query work
  * to nProbes/nCells of the corpus, PQ codes bound index bytes to nSub
  * per vector, exact re-rank pins quality to the shortlist.
  *
  * The recall floor here runs at the suite-feasible 2000-vector corpus;
  * the scale evidence (200k decade row, query wall sublinear in n) is
  * in SCALING.md's "IVF-PQ composition" section, same split as
  * the IVF and budget-LSH campaigns.
  */
class IvfPqSpec extends AnyFunSuite with SparkTest {

  private val dim = 64
  private lazy val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
  private lazy val queries = corpus.filter(col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("index stores codes only — the compressed layout is real") {
    val (index, centroids, books) = Similarity.ivfPqIndex(corpus, dim,
      nSub = 16, kPerSub = 64, iterations = 2, nCellsOverride = 16)
    assert(index.columns.toSeq == Seq("cell", "neighbor_id", "codes"),
      "IVF-PQ index must carry (cell, id, codes) — no raw or reconstructed vectors")
    assert(centroids.length == 16)
    assert(books.length == 16 && books.forall(_.length == 64))
    val n = corpus.count()
    assert(index.count() == n, "every valid vector must be indexed exactly once")
    // codes are one byte's worth each (< kPerSub), cells in range
    val bad = index.filter(col("cell") < 0 || col("cell") >= 16 ||
      exists(col("codes"), c => c < 0 || c >= 64)).count()
    assert(bad == 0)
  }

  test("recall@10 vs brute clears the floor; every query returns full top-k") {
    val brute = topSet(Similarity.bruteForceTopK(queries, corpus, 10))
    val result = Similarity.ivfPqTopK(queries, corpus, 10, dim,
      nSub = 16, kPerSub = 64, candidates = 200, iterations = 3)
    val rows = result.collect()
    // full result contract: 10 ranked rows per query, ranks 1..10
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 20)
    byQuery.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to 10),
        s"query $q returned ranks ${rs.map(_.getInt(2)).sorted.toSeq}")
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    info(f"IVF-PQ recall@10 vs brute at 2000 vectors (auto cells/probes): $recall%.3f")
    assert(recall >= 0.9,
      s"IVF-PQ recall collapsed ($recall) — routing, codebooks, or re-rank regressed")
    // re-ranked cosines are EXACT: every returned (q, n) pair scores
    // identically to the brute pair where both contain it
    val bruteScores = Similarity.bruteForceTopK(queries, corpus, 10)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteScores.get(key).foreach { exact =>
        assert(r.getDouble(3) == exact,
          s"re-rank cosine for $key differs from the exact score")
      }
    }
  }

  test("residual codebooks: same index bytes, recall at least matches plain encoding") {
    val brute = topSet(Similarity.bruteForceTopK(queries, corpus, 10))
    def recallOf(residual: Boolean): Double = {
      val got = topSet(Similarity.ivfPqTopK(queries, corpus, 10, dim,
        nSub = 16, kPerSub = 64, candidates = 200, iterations = 3,
        residual = residual))
      (got & brute).size.toDouble / brute.size
    }
    val plain = recallOf(false)
    val res = recallOf(true)
    info(f"recall@10 at 2000 vectors: plain=$plain%.3f residual=$res%.3f")
    // deterministic corpus + deterministic builds: a fixed comparison.
    // Residual mass (within-cell spread) is what the codes now resolve,
    // so the same 16 bytes/vector must not LOSE recall.
    assert(res >= plain,
      s"residual encoding lost recall ($res vs $plain) — centroid add-back or training input wrong")
    assert(res >= 0.9, s"residual recall floor: $res")
    // the residual index still carries codes only
    val (index, _, _) = Similarity.ivfPqIndex(corpus, dim,
      nSub = 16, kPerSub = 64, iterations = 2, nCellsOverride = 16,
      residual = true)
    assert(index.columns.toSeq == Seq("cell", "neighbor_id", "codes"))
    assert(index.count() == corpus.count())
  }

  test("routing bounds scored candidates to the probed cells") {
    val (index, centroids, books) = Similarity.ivfPqIndex(corpus, dim,
      nSub = 16, kPerSub = 64, iterations = 2, nCellsOverride = 16)
    // with nProbes=4 of 16 cells, a query's candidates may only come
    // from its 4 best cells — verify against a driver-side replay
    val result = Similarity.ivfPqQuery(queries, index, corpus, centroids,
      books, 10, candidates = 50, nProbesOverride = 4)
    val qv = queries.collect().map { r =>
      val e = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(e.map(x => x * x).sum)
      r.getLong(0) -> e.map(_ / n)
    }.toMap
    val allowedCells = qv.map { case (q, v) =>
      val sims = centroids.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (a, b) => a * b }.sum, i)
      }
      q -> sims.sortBy { case (s, i) => (-s, i) }.take(4).map(_._2).toSet
    }
    val cellOf = index.select(col("neighbor_id").cast("long"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    result.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().foreach { r =>
        val (q, n) = (r.getLong(0), r.getLong(1))
        assert(allowedCells(q).contains(cellOf(n)),
          s"neighbor $n of query $q came from unprobed cell ${cellOf(n)}")
      }
  }
}
