package graft.operators

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic dedup (SemDeDup cluster-then-prune) and prototypicality
  * pruning: correctness against hand-computed brute force, the k=1-
  * cluster ≡ global-dedup identity for the auto build path, and the
  * numeric-margin pins that let q84/q85 carry full DuckDB oracles
  * (the same safety argument AnnOracleMarginSpec makes for the LSH
  * sign bits).
  */
class SemanticPruneSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  // Hand-built corpus: two clusters; in cluster 0, vectors 1/2/3 are
  // near-identical (pairwise cosine ~1) and 4 is orthogonal; cluster 1
  // holds 5 and a near-dup 6. Survivors under keep-lowest-id at 0.9:
  // 1 (lowest of {1,2,3}), 4, 5 (lowest of {5,6}).
  private def toyCorpus = Seq(
    (1L, 0, Array(1.0f, 0.0f, 0.0f)),
    (2L, 0, Array(0.999f, 0.01f, 0.0f)),
    (3L, 0, Array(0.998f, 0.02f, 0.0f)),
    (4L, 0, Array(0.0f, 1.0f, 0.0f)),
    (5L, 1, Array(0.0f, 0.0f, 1.0f)),
    (6L, 1, Array(0.01f, 0.0f, 0.999f))
  ).toDF("vec_id", "label", "embedding")

  test("semanticDedup keeps the lowest-id member of each near-dup set") {
    val kept = Similarity.semanticDedup(toyCorpus, "label", threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("semanticDedup is cluster-local: cross-cluster near-dups survive") {
    // same vectors, but the {5,6} pair split across clusters — no
    // cluster shares a near-dup pair, so nothing is dropped
    val split = toyCorpus.withColumn("label",
      when(col("vec_id") === 6L, lit(2)).otherwise(col("label")))
      .filter(col("vec_id") >= 4L)
    val kept = Similarity.semanticDedup(split, "label", threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(4L, 5L, 6L))
  }

  test("semanticDedup matches the quadratic brute force on real data") {
    val corpus = graft.Tables.embeddings(spark, sfDir)
    val kept = Similarity.semanticDedup(corpus, "label", threshold = 0.4)
      .select("vec_id").as[Long].collect().toSet
    // brute force: collect (id, label, normalized emb), drop any id with
    // a lower-id same-label neighbor at cosine >= threshold
    val rows = corpus.select(col("vec_id"), col("label"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("e"))
      .as[(Long, Int, Seq[Double])].collect()
    val expected = rows.filter { case (id, lab, e) =>
      !rows.exists { case (id2, lab2, e2) =>
        id2 < id && lab2 == lab &&
          e.zip(e2).map { case (x, y) => x * y }.sum >= 0.4
      }
    }.map(_._1).toSet
    assert(kept == expected)
    assert(kept.size < rows.length, "threshold should drop something")
  }

  test("sliced join (small clusterCountHint) leaves survivors unchanged") {
    val corpus = graft.Tables.embeddings(spark, sfDir)
    // hint 1 forces slices = 4·parallelism — the replicated-side join —
    // while hint 0 keeps the plain per-cluster equi-join
    val sliced = Similarity.semanticDedup(corpus, "label", 0.4,
      clusterCountHint = 1).select("vec_id").as[Long].collect().toSet
    val plain = Similarity.semanticDedup(corpus, "label", 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(sliced == plain)
  }

  test("semanticDedupAuto with one cluster equals global-threshold dedup") {
    val corpus = graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") < 60)
    val auto = Similarity.semanticDedupAuto(corpus, dim = 64, threshold = 0.4,
        targetCellSize = 1000000)
      .select("vec_id").as[Long].collect().toSet
    val global = Similarity.semanticDedup(
        corpus.withColumn("one", lit(0)), "one", threshold = 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(auto == global)
  }

  test("semanticDedupTwoLevel with k1=1 collapses to the single-level build") {
    // one coarse cell ⇒ the level-2 k-means IS the single-level k-means:
    // same lowest-id seeds, same argmax tie-break, same spherical update
    val corpus = graft.Tables.embeddings(spark, sfDir)
    val two = Similarity.semanticDedupTwoLevel(corpus, dim = 64,
        threshold = 0.4, targetCellSize = 16, k1Override = 1)
      .select("vec_id").as[Long].collect().toSet
    val one = Similarity.semanticDedupAuto(corpus, dim = 64,
        threshold = 0.4, targetCellSize = 16)
      .select("vec_id").as[Long].collect().toSet
    assert(two == one)
    assert(two.size < 500, "the 16-point cells should drop something")
  }

  test("semanticDedupTwoLevel survivors contain the global-prune survivors") {
    // a partition-based prune can only MISS cross-cell pairs, never
    // invent a drop: dropped(partitioned) ⊆ dropped(global)
    val corpus = graft.Tables.embeddings(spark, sfDir)
    val two = Similarity.semanticDedupTwoLevel(corpus, dim = 64,
        threshold = 0.4, targetCellSize = 16)
      .select("vec_id").as[Long].collect().toSet
    val global = Similarity.semanticDedup(
        corpus.withColumn("one", lit(0)), "one", threshold = 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(global.subsetOf(two))
  }

  test("semanticDedupTwoLevel is deterministic across runs") {
    val corpus = graft.Tables.embeddings(spark, sfDir)
    def run() = Similarity.semanticDedupTwoLevel(corpus, dim = 64,
        threshold = 0.4, targetCellSize = 16)
      .select("vec_id").as[Long].collect().toSet
    assert(run() == run())
  }

  test("semanticDedupAuto dispatches to the two-level build past MaxLiteralCells") {
    // 4,100 synthetic unit vectors at targetCellSize=1 ⇒ k > 4096: the
    // single-level path would plant 4,100 centroid literals in the plan;
    // the dispatch must take the two-level build and still satisfy the
    // supset-of-global contract. Vectors: deterministic points on the
    // unit circle (dim 2 suffices for the dispatch logic).
    val n = 4100
    val corpus = spark.range(n).toDF("vec_id")
      .withColumn("_t", col("vec_id").cast("double") * 0.0015)
      .select(col("vec_id"),
        array(cos(col("_t")).cast("float"), sin(col("_t")).cast("float"))
          .as("embedding"))
    val kept = Similarity.semanticDedupAuto(corpus, dim = 2,
        threshold = 0.999999, targetCellSize = 1)
      .select("vec_id").as[Long].collect().toSet
    // cells of ~1 point at a near-exact threshold: the prune must not
    // invent drops beyond what a global prune at that threshold makes
    val global = Similarity.semanticDedup(
        corpus.withColumn("one", lit(0)), "one", threshold = 0.999999)
      .select("vec_id").as[Long].collect().toSet
    assert(global.subsetOf(kept))
    assert(kept.size <= n)
  }

  test("planted near-identical dups: designed-regime recall for both builds") {
    // SemDeDup's DESIGNED regime is near-identical duplicates (ε-copies
    // at cosine 0.9–0.99), not the background-τ setting the scale table
    // measures. Plant an ε-perturbed copy of every 10th vector, take as
    // TRUTH the planted pairs whose exact cosine clears τ = 0.95, and
    // require both build paths to drop (almost) all of them — a miss
    // can only come from the quantizer splitting a near-identical pair
    // across cells, which bounded-size k-means should essentially never
    // do at these distances. Mirrors the q80 planted-pair pattern and
    // the planted-recall runs at 200k/2M in SCALING.md ("Semantic dedup
    // in its DESIGNED regime").
    import graft.functions.{TextFunctions, VectorFunctions}
    val corpus = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val dim = 64
    val offset = 100000L
    val eps = 0.10 / math.sqrt(dim.toDouble) // cosine ≈ 0.995 per pair
    def perturb(v: org.apache.spark.sql.Column) =
      TextFunctions.bind(VectorFunctions.norm(v)) { nm =>
        zip_with(v, sequence(lit(0), lit(dim - 1)), (x, i) =>
          x + lit(eps) * nm * when(i % 2 === 0, 1.0).otherwise(-1.0))
      }
    val base = corpus.filter($"vec_id" % 10 === 0)
    val planted = base.select(($"vec_id" + offset).as("vec_id"),
      perturb($"embedding").as("embedding"))
    val full = corpus.unionByName(planted)
    val threshold = 0.95
    val truth = base.select($"vec_id",
        VectorFunctions.normalize($"embedding").as("e1"))
      .join(planted.select(($"vec_id" - offset).as("vec_id"),
        VectorFunctions.normalize($"embedding").as("e2")), Seq("vec_id"))
      .filter(VectorFunctions.dot($"e1", $"e2") >= threshold)
      .select(($"vec_id" + offset).as("vec_id"))
      .as[Long].collect().toSet
    // sf0.001 has 500 embeddings → 50 planted copies; the ε dial lands
    // all of them in [0.95, 0.99] (measured: 0.968–0.970)
    assert(truth.size >= 45, s"perturbation left only ${truth.size} truthful pairs")
    for ((name, df) <- Seq(
        "auto" -> Similarity.semanticDedupAuto(full, dim, threshold),
        "twoLevel" -> Similarity.semanticDedupTwoLevel(full, dim, threshold),
        "auto+top2" -> Similarity.semanticDedupAuto(full, dim, threshold,
          assignProbes = 2),
        "twoLevel+top2" -> Similarity.semanticDedupTwoLevel(full, dim, threshold,
          assignProbes = 2))) {
      val survivors = df.select("vec_id").as[Long].collect().toSet
      val dropped = truth.count(id => !survivors.contains(id))
      val recall = dropped.toDouble / truth.size
      assert(recall >= 0.95, s"$name planted recall $recall (${truth.size} truth pairs)")
    }
  }

  test("top-2 multi-assignment: monotone drops, never beyond the global truth") {
    val corpus = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val threshold = 0.4
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").as[Long].collect().toSet
    val s1 = ids(Similarity.semanticDedupAuto(corpus, 64, threshold))
    val s2 = ids(Similarity.semanticDedupAuto(corpus, 64, threshold, assignProbes = 2))
    // each point's top-2 cell set contains its top-1 cell, so every pair
    // that met under single assignment still meets: drops only grow
    assert(s2.subsetOf(s1), "top-2 must never resurrect a dropped vector")
    // and the exact in-join cosine verify means multi-assignment can
    // never drop a vector the global (single-cluster) prune keeps
    val brute = ids(Similarity.semanticDedup(
      corpus.withColumn("one", lit(0)), "one", threshold, clusterCountHint = 1))
    assert(brute.subsetOf(s2), "drops must stay within the global truth")
    assert(s1.size > s2.size || s1 == s2)
  }

  test("cellTop2 packs (argmax, second-best) with cellArgmax's tie contract") {
    import org.apache.spark.sql.graft.VectorExpressions
    val cents = Seq(Seq(1.0, 0.0), Seq(0.8, 0.6), Seq(0.0, 1.0))
    def top2(v: Seq[Double]): (Int, Int) = {
      val packed = Seq(v).toDF("v")
        .select(VectorExpressions.cellTop2($"v",
          typedlit(cents)).as("p"))
        .head().getLong(0)
      ((packed >>> 32).toInt, (packed & 0xFFFFFFFFL).toInt)
    }
    assert(top2(Seq(1.0, 0.0)) == (0, 1))   // dots: 1.0, 0.8, 0.0
    assert(top2(Seq(0.0, 1.0)) == (2, 1))   // dots: 0.0, 0.6, 1.0
    assert(top2(Seq(0.6, 0.8)) == (1, 2))   // dots: 0.6, 0.96, 0.8
    // best always matches cellArgmax on real data
    val rows = graft.Tables.embeddings(spark, sfDir).limit(100)
      .select(
        VectorExpressions.cellArgmax(
          graft.functions.VectorFunctions.normalize($"embedding"),
          typedlit(cents.map(c => c ++ Seq.fill(62)(0.0)))).as("a"),
        VectorExpressions.cellTop2(
          graft.functions.VectorFunctions.normalize($"embedding"),
          typedlit(cents.map(c => c ++ Seq.fill(62)(0.0)))).as("p"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) == (r.getLong(1) >>> 32).toInt)
    }
    // k = 1: second collapses to best
    val single = Seq(Seq(1.0, 0.0)).toDF("v")
      .select(VectorExpressions.cellTop2($"v",
        typedlit(Seq(Seq(0.5, 0.5)))).as("p")).head().getLong(0)
    assert(((single >>> 32).toInt, (single & 0xFFFFFFFFL).toInt) == (0, 0))
  }

  test("prototypePrune drops the integer 30% cut, most-prototypical first") {
    // centroid = mean(raw) = (0.7, 0.3375); cosines to it: v3 0.989,
    // v2 0.943, v1 0.901, v4 0.522 — floor(4*300/1000) = 1, so exactly
    // v3 (the member closest to the centroid direction) goes
    val df = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.9f, 0.1f)),
      (3L, 0, Array(0.8f, 0.25f)),
      (4L, 0, Array(0.1f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val kept = Similarity.prototypePrune(df, dim = 2, dropPermille = 300)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 4L))
  }

  test("prototypePrune permille edges: 0 keeps all, 1000 drops all") {
    val corpus = graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") < 40)
    val n = corpus.count()
    assert(Similarity.prototypePrune(corpus, 64, 0).count() == n)
    assert(Similarity.prototypePrune(corpus, 64, 1000).count() == 0L)
  }

  test("prototypePrune keeps exactly n - floor(0.3 n) per label") {
    val corpus = graft.Tables.embeddings(spark, sfDir)
    val perLabel = corpus.groupBy("label").count().as[(Int, Long)].collect().toMap
    val kept = Similarity.prototypePrune(corpus, 64, 300)
      .groupBy("label").count().as[(Int, Long)].collect().toMap
    perLabel.foreach { case (lab, n) =>
      assert(kept.getOrElse(lab, 0L) == n - (n * 300) / 1000,
        s"label $lab: n=$n kept=${kept.get(lab)}")
    }
  }

  // ---- oracle-margin pins (the q84/q85 cross-engine safety argument) ----

  test("q84 margin: no intra-label cosine sits inside the noise band of 0.4") {
    val rows = graft.Tables.embeddings(spark, sfDir)
      .select(col("label"), col("vec_id"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("e"))
      .as[(Int, Long, Seq[Double])].collect()
    var minMargin = Double.MaxValue
    for {
      (la, ia, ea) <- rows; (lb, ib, eb) <- rows
      if la == lb && ia < ib
    } {
      val c = ea.zip(eb).map { case (x, y) => x * y }.sum
      minMargin = math.min(minMargin, math.abs(c - 0.4))
    }
    // measured ~1.7e-3 at sf0.001 (1.2e-4 at sf0.1); 1e-9 still leaves
    // six orders of magnitude over cross-engine summation noise
    assert(minMargin > 1e-9,
      s"intra-label cosine margin $minMargin too close to the 0.4 threshold")
  }

  test("q89 margin: the top-2 cell cut sits far above cross-engine noise") {
    // q89's oracle replays cell_top2 by ranking dot(unit v, centroid);
    // the replay is only safe if no vector's rank-2 vs rank-3 dots (or
    // rank-1 vs rank-2 — the pack order) sit within float-summation
    // noise of each other. Same argument as the q84/q85 margin pins.
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = Similarity.centroidVectors(emb, 64)
      .orderBy($"label").collect().map(_.getSeq[Double](1).toArray)
    val vecs = emb.select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var minGap = Double.MaxValue
    for (v <- vecs) {
      val n = math.sqrt(v.map(x => x * x).sum)
      val u = v.map(_ / n)
      val dots = cents.map(c => u.zip(c).map { case (a, b) => a * b }.sum).sorted.reverse
      minGap = math.min(minGap, math.min(dots(0) - dots(1), dots(1) - dots(2)))
    }
    assert(minGap > 1e-9, s"top-2/3 centroid-dot gap $minGap inside the noise band")
  }

  test("q85 margin: adjacent prototypicality scores are separated") {
    val corpus = graft.Tables.embeddings(spark, sfDir)
    val cents = Similarity.centroidVectors(corpus, 64)
    val scored = corpus.join(cents, Seq("label"))
      .select(col("label"),
        graft.functions.VectorFunctions.cosine(col("embedding"), col("centroid"))
          .as("proto"))
      .as[(Int, Double)].collect()
    val minGap = scored.groupBy(_._1).values.map { g =>
      val s = g.map(_._2).sorted
      if (s.length < 2) Double.MaxValue
      else s.sliding(2).map { case Array(a, b) => b - a }.min
    }.min
    // measured ~1.9e-5 at sf0.001 (3.9e-8 at sf0.1); any gap above
    // 1e-12 keeps the rank order stable across engines
    assert(minGap > 1e-12,
      s"adjacent prototypicality gap $minGap inside the cross-engine noise band")
  }
}
