package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus scale-up: replicate an sf directory N× with key shifting, for
  * scale-smoke runs beyond the largest driver-provided sf (the graded
  * corpora under /root/testdata are read-only).
  *
  * Replica i shifts every key column by i·(max key + 1), so join
  * relationships (orders→customer, lineitem→orders/part/supplier,
  * events→users) hold within each replica and key spaces never collide.
  * Content columns are perturbed per replica — a replica tag appended to
  * document text, embeddings rotated by i positions — so near-dup and
  * ANN structure grows LINEARLY with the corpus instead of quadratically
  * (exact copies across replicas would make every dedup cluster N× larger
  * and pair counts N²×). Dimension tables (region/nation) stay as-is.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  // key strides from the sf0.1 corpus shape (next power of 10 above the
  // max key, so shifted ids stay human-readable)
  private val Strides = Map(
    "c_custkey" -> 100000L, "o_orderkey" -> 1000000L, "o_custkey" -> 100000L,
    "l_orderkey" -> 1000000L, "l_partkey" -> 100000L, "l_suppkey" -> 10000L,
    "p_partkey" -> 100000L, "s_suppkey" -> 10000L,
    "event_id" -> 1000000L, "user_id" -> 10000L,
    "doc_id" -> 100000L, "vec_id" -> 100000L)

  private def replicate(df: DataFrame, factor: Int)(
      perReplica: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => perReplica(df, i)).reduce(_ unionByName _)

  /** Embeddings replication as ONE plan with the replica index as a
    * COLUMN: `replicate`'s factor-way union puts factor × dim × ~15
    * expression nodes in front of Catalyst — measured: factor 10000
    * (the 20M-vector corpus) pins one core in analysis indefinitely,
    * which makes the scale TOOL itself the scale bottleneck. Here the
    * base corpus explodes against `sequence(0, factor−1)` once and the
    * per-replica transform — key shift, rotation by (rep mod d), the
    * splitmix-style ±1 sign pattern — evaluates as expressions of the
    * replica column, so plan size is O(dim) regardless of factor and
    * the row amplification happens at execution, fully parallel.
    * Arithmetic is bit-identical to the union form ([[signAt]] restated
    * over Spark long ops, which wrap like Java with ANSI off; the
    * rotation index is the same (j + rep mod d) mod d); an equivalence
    * spec pins wide ≡ union at a small factor.
    */
  def replicateEmbeddings(emb: DataFrame, factor: Int, d: Int): DataFrame = {
    val rep = col("_rep")
    // signAt(rep, j) as expressions: x0 = (rep·K1) ^ (j·K2);
    // x1 = (x0 ^ x0>>>30)·K3; x2 = (x1 ^ x1>>>27)·K4; bit = (x2 ^ x2>>>31) & 1
    def signExpr(j: Int): org.apache.spark.sql.Column = {
      val x0 = (rep * lit(0x9e3779b97f4a7c15L))
        .bitwiseXOR(lit(j.toLong * 0xbf58476d1ce4e5b9L))
      val x1 = graft.functions.TextFunctions.bind(x0) { x =>
        x.bitwiseXOR(shiftrightunsigned(x, 30)) * lit(0xbf58476d1ce4e5b9L)
      }
      val x2 = graft.functions.TextFunctions.bind(x1) { x =>
        x.bitwiseXOR(shiftrightunsigned(x, 27)) * lit(0x94d049bb133111ebL)
      }
      graft.functions.TextFunctions.bind(x2) { x =>
        when(x.bitwiseXOR(shiftrightunsigned(x, 31)).bitwiseAND(lit(1L)) === 0L,
          lit(1.0f)).otherwise(lit(-1.0f))
      }
    }
    val rot = (0 until d).map { j =>
      element_at(col("embedding"),
        (pmod(lit(j.toLong) + pmod(rep, lit(d.toLong)), lit(d.toLong)) + 1)
          .cast("int")) * signExpr(j)
    }
    emb
      .withColumn("_rep", explode(sequence(lit(0L), lit(factor - 1L))))
      .withColumn("vec_id", col("vec_id") + rep * lit(Strides("vec_id")))
      .withColumn("embedding",
        when(rep === 0L, col("embedding")).otherwise(array(rot: _*)))
      .drop("_rep")
  }

  /** ANISOTROPIC embeddings replication — the within-cluster geometry
    * real text encoders produce, where [[replicateEmbeddings]] produces
    * near-isotropic replica noise (the round-12 residual-PQ null
    * result's mechanism). Each replica deviates from its BASE vector
    * along a rank-`rank` subspace derived from the base itself (cyclic
    * coordinate shifts by 1..rank), with deterministic splitmix
    * coefficients in [−eps, eps] per (replica, direction):
    *
    *   x_rep = base + Σ_t c_t(rep) · shift(base, t+1)
    *
    * so the `factor` replicas of one base form a low-rank manifold
    * patch around it (within-cluster cosine ≈ 0.95-0.99 at the
    * defaults) instead of an isotropic cloud. Replica 0 stays
    * byte-identical. This is the regime FAISS's residual encoding comes
    * from — codes spend their bits on a low-rank within-cell manifold —
    * and exists to re-run that A/B on realistic geometry. NOT for the
    * dedup scale corpora: clusters of near-neighbors are the POINT
    * here, and would manufacture quadratic pair growth there.
    */
  def replicateEmbeddingsAniso(emb: DataFrame, factor: Int, d: Int,
                               rank: Int = 4, eps: Double = 0.25): DataFrame = {
    import graft.functions.TextFunctions.bind
    val rep = col("_rep")
    // splitmix64 over (rep, lane) — the signAt chain, full mixed bits
    def mixed(lane: Long): org.apache.spark.sql.Column = {
      val x0 = (rep * lit(0x9e3779b97f4a7c15L))
        .bitwiseXOR(lit(lane * 0xbf58476d1ce4e5b9L))
      val x1 = bind(x0) { x =>
        x.bitwiseXOR(shiftrightunsigned(x, 30)) * lit(0xbf58476d1ce4e5b9L)
      }
      val x2 = bind(x1) { x =>
        x.bitwiseXOR(shiftrightunsigned(x, 27)) * lit(0x94d049bb133111ebL)
      }
      bind(x2) { x => x.bitwiseXOR(shiftrightunsigned(x, 31)) }
    }
    // c_t(rep) uniform on [−eps, eps] from the low mixed bits; lanes
    // offset by d so they never collide with signExpr's per-j lanes
    def coefExpr(t: Int): org.apache.spark.sql.Column =
      (pmod(mixed(d.toLong + t + 1), lit(2048L)).cast("double") / lit(1024.0)
        - lit(1.0)) * lit(eps)
    val withCoefs = (0 until rank).foldLeft(
        emb.withColumn("_rep", explode(sequence(lit(0L), lit(factor - 1L))))) {
      (df, t) => df.withColumn(s"_c$t", coefExpr(t))
    }
    val out = (0 until d).map { j =>
      val base = element_at(col("embedding"), j + 1).cast("double")
      (0 until rank).foldLeft(base) { (acc, t) =>
        acc + col(s"_c$t") *
          element_at(col("embedding"), ((j + t + 1) % d) + 1).cast("double")
      }.cast("float")
    }
    withCoefs
      .withColumn("vec_id", col("vec_id") + rep * lit(Strides("vec_id")))
      .withColumn("embedding",
        when(rep === 0L, col("embedding")).otherwise(array(out: _*)))
      .drop((0 until rank).map(t => s"_c$t") :+ "_rep": _*)
  }

  private def shiftKeys(df: DataFrame, i: Int): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      Strides.get(c) match {
        case Some(stride) => d.withColumn(c, col(c) + lit(i * stride))
        case None         => d
      }
    }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.Sessions.queryPack("graft-scaleup")

    // optional 4th arg: comma-separated table subset (e.g. "embeddings"
    // for the 2M-vector semantic-dedup campaign — replicating 60M
    // lineitem rows to measure one vector operator would be waste).
    // NOTE: replica key shifts assume BASE-CORPUS id ranges (< the
    // Strides), so always scale from /root/testdata/sf0.1, never from an
    // already-scaled output.
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    // BY-NAME df: constructing a skipped table's factor-way union is
    // itself O(factor²) analyzer work (unionByName resolves eagerly) —
    // at factor 10000 the "skipped" lineitem replica pinned a core
    // before the embeddings job ever started
    def write(t: String, df: => DataFrame): Unit =
      if (only.isEmpty || only(t))
        df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // dimensions: fixed
    Seq("region", "nation").foreach(t => write(t, read(t)))
    // fact tables: pure key shift
    Seq("customer", "supplier", "part", "orders", "lineitem")
      .foreach(t => write(t, replicate(read(t), factor)(shiftKeys)))
    // events: the source stores ts as TIMESTAMP(NANOS), which this
    // session reads as raw LONG nanos (nanosAsLong). Writing that long
    // back verbatim would hand DuckDB a BIGINT where the original corpus
    // has a timestamp — epoch(ts) oracles would stop binding. Convert to
    // µs timestamps on write (same truncation Tables.events applies) so
    // the replica is type-identical to the source for BOTH engines.
    val ev = read("events")
    val evTyped =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        ev.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else ev
    write("events", replicate(evTyped, factor)(shiftKeys))
    // documents: shift + per-replica text perturbation (replica 0
    // byte-identical). The replica tag is SUFFIXED ONTO EVERY WORD of
    // length ≥ 4 — a bijective token map per replica, chosen so that
    // pair-producing answer sets grow LINEARLY in the replica factor:
    //  - WITHIN a replica, w → w+"rN" maps shingle sets bijectively, so
    //    every Jaccard between two docs of the same replica is EXACTLY
    //    its base-corpus value — each replica contributes exactly the
    //    base answer set to every dedup/near-dup query.
    //  - ACROSS replicas (and vs the base), only the untouched short
    //    words (~20% of token mass in this corpus) are shared: bigram
    //    Jaccard needs both words short (~0.02 ≪ every 0.5+ threshold)
    //    and SimHash cosine ~0.2 puts expected hamming ~28 of 64, ≫
    //    the ≤7 near-dup cutoff — no manufactured cross-replica pairs.
    //    (Earlier schemes failed exactly here: an appended tag left
    //    cross-replica J ≈ 0.99 and a tag interleaved every 4th word
    //    left J ≈ 0.51-0.56 — under the 0.7 dials but OVER q22's 0.5,
    //    and token mass ~80% shared kept simhash hamming ~13, within
    //    sigma of the ≤7 cutoff — so factor-quadratic pair growth
    //    survived both.)
    //  - Short words — which include every stopword the quality/langid
    //    scorers count — are untouched, so stopword ratios, token
    //    counts, and length-based quality features keep their base
    //    distributions and selectivity-dependent stages (curation
    //    filters) see representative data in every replica.
    write("documents", replicate(read("documents"), factor) { (df, i) =>
      val shifted = shiftKeys(df, i)
      if (i == 0) shifted
      else shifted
        .withColumn("text",
          regexp_replace(col("text"), "(\\S{4,})", s"$$1r$i"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    // embeddings: shift + a per-replica orthogonal transform (rotation
    // by i mod d COMPOSED with a ±1 sign pattern seeded by i) — norm-
    // and cluster-structure-preserving within each replica, and
    // DECORRELATED across replicas. The sign flip is load-bearing, not
    // cosmetic: rotation alone leaves cross-replica cosine equal to the
    // vector's autocorrelation at the rotation lag, which for these
    // corpora sits ABOVE near-dup thresholds at small lags — measured
    // as 324k cross-replica pairs at 10× (vs ~200 within the base
    // corpus), turning every low-threshold ANN sweep quadratic in the
    // replica factor. A distinct sign pattern per replica flips ~half
    // the coordinates of any cross-replica product, driving expected
    // cosine to ~0: pair structure stays within-replica and grows
    // linearly, which is the property the scale corpus exists to hold.
    // The dimension is read from the corpus, not assumed: element_at
    // past the array end returns null with ANSI off and would silently
    // corrupt the scaled vectors.
    val emb = read("embeddings")
    val d = emb.select(size(col("embedding"))).first().getInt(0)
    val mixedDims = emb.filter(size(col("embedding")) =!= d).count()
    require(mixedDims == 0,
      s"$mixedDims embedding rows have dim != $d; rotation would null-pad them")
    // optional 5th arg "aniso": low-rank within-cluster manifold
    // replicas (the residual-PQ A/B geometry) instead of the default
    // decorrelated isotropic replicas
    val aniso = args.length > 4 && args(4) == "aniso"
    write("embeddings",
      if (aniso) replicateEmbeddingsAniso(emb, factor, d)
      else replicateEmbeddings(emb, factor, d))
    println(s"""{"scaled":"$outDir","factor":$factor,"aniso":$aniso}""")
    spark.stop()
  }

  private[graft] def signAt(seed: Long, j: Int): Double = {
    var x = (seed * 0x9e3779b97f4a7c15L) ^ (j.toLong * 0xbf58476d1ce4e5b9L)
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    if (((x ^ (x >>> 31)) & 1L) == 0L) 1.0 else -1.0
  }
}
