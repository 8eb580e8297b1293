package graft.queries

import graft.SparkTest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Machine-checked plan-quality properties for the query inventory —
  * the shape assertions behind SCALING.md, run on the executed plan so
  * AQE's final decisions (not just the static plan) are what's graded:
  * filters reach the parquet scan, dimensions broadcast, scans prune
  * columns, and the bucketed range join never degenerates to a
  * nested-loop/cartesian plan.
  */
class QueryPlanSpec extends AnyFunSuite with SparkTest
    with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  /** Executed-plan string after running the query (AQE finalizes lazily). */
  private def executedPlan(df: DataFrame): String = {
    df.write.mode("overwrite").format("noop").save()
    df.queryExecution.executedPlan.toString
  }

  test("q01: ship-date filter is pushed to the parquet scan, columns pruned") {
    val plan = executedPlan(QueryPack.pricingSummary(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected pushed l_shipdate filter in:\n$plan")
    // projection pruning: the scan must not read unused wide columns
    assert(!plan.contains("l_comment"), "scan should prune l_comment")
    assert(!plan.contains("l_shipinstruct"), "scan should prune l_shipinstruct")
  }

  test("q02: nation and region dimensions broadcast; no nested-loop join") {
    val plan = executedPlan(QueryPack.regionRevenue(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "dimension joins must be hash joins")
  }

  test("q03: aggregation sits below the join (partial agg on l_orderkey)") {
    val plan = QueryPack.joinPriority(spark, dir).queryExecution.optimizedPlan.toString
    // the lineitem side aggregates BEFORE joining orders: the optimized
    // plan has an Aggregate whose child subtree scans lineitem only
    val joinIdx = plan.indexOf("Join")
    val aggIdxs = Iterator.iterate(plan.indexOf("Aggregate"))(i =>
      plan.indexOf("Aggregate", i + 1)).takeWhile(_ >= 0).toList
    assert(joinIdx >= 0 && aggIdxs.exists(_ > joinIdx),
      s"expected a pre-join aggregate below the join in:\n$plan")
  }

  test("q50: bucketed range join plans as a hash join, not nested-loop") {
    val plan = executedPlan(QueryPack.rangeJoinEvents(spark, dir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must not degenerate to nested-loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join in:\n$plan")
  }

  test("q47: corpus total joins in as a broadcast, not a shuffle") {
    val plan = executedPlan(QueryPack.tfidfTerms(spark, dir))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), // 1-row cross join broadcasts
      s"expected the N-total scalar to broadcast in:\n$plan")
  }

  test("q05: rank filter plans map-side WindowGroupLimit (no full shuffle of ranked rows)") {
    // Catalyst's InferWindowGroupLimit turns rank<=k into per-partition
    // top-k BEFORE the exchange — the reason a custom top-k operator is
    // not needed (SURVEY §7.4: don't hand-schedule what the optimizer
    // already does). This pins the plan so a regression (e.g. a filter
    // rewrite hiding the rank bound) surfaces here.
    val plan = executedPlan(QueryPack.windowRank(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown in:\n$plan")
  }

  test("inventory-wide: no cartesian products; nested-loop only where intended") {
    // BroadcastNestedLoopJoin is legitimate exactly where one side is a
    // deliberately tiny broadcast: the brute-force ANN baseline (q23),
    // the bounded exact near-dup twin (q27), 1-row scalar broadcasts
    // (q36 global avg, q47 corpus total), and the probed-query broadcast
    // (q38). Everything else must plan equi-joins.
    val bnljAllowed = Set("q23_knn_brute", "q27_emb_neardup",
      "q36_above_avg", "q38_knn_ivf", "q47_tfidf_terms",
      "q90_unigram_surprisal", "q91_bm25",
      "q96_bigram_surprisal", "q98_alpha_sample", // 1-row (N,V)/(N,avgdl)/(T,S) scalars
      "q104_knn_pq", // broadcast query set streamed over the PQ reconstruction
      "q107_hybrid_retrieval", // composes q23's shortlist + q91's scalars — both legs' broadcasts
      "q110_mmr_diverse", // q23's broadcast-query shortlist feeds the greedy
      "q112_cms_topk", // 1-row sketch-array broadcast onto the top-20
      "q114_collocations", // 1-row n_total scalar broadcast
      "q117_trigram_lm", // 1-row (n_total, V) model broadcast
      "q118_pagerank", // 1-row node-count scalar broadcast
      "q123_source_minhash", // sources² signature compare — group-count-sized, never corpus-sized
      "q126_triangles", // shares q118's linkEdges (1-row node-count scalar broadcast); the triangle joins themselves are equi-joins (GraphSpec pins it)
      "q137_clustering_coeff", // same shared linkEdges scalar broadcast as q126
      "q143_kmv_overlap", // two 1-row sketch aggregates + the 1-row exact-intersect scalar — 1×1×1 combine
      "q145_incr_ann") // q38's probed-query broadcast + the batch×centroid routing broadcast (nCells rows)
    QueryPack.all.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // physical planning only — no execution, except where a query
      // runs jobs at construction: q45's component loop, and the
      // localCheckpoint(true) of the materialized shared legs of q123
      // (sourceMinhash) and q126/q137 (the ids-only edge set)
      val plan = fn(spark, dir).queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      if (!bnljAllowed.contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unintended nested-loop join")
    }
  }

  test("q55: eval n-gram index broadcasts via AQE at this scale — no hint") {
    // no broadcast() hint in the query (a hint would OOM once the eval
    // index outgrows broadcast range); AQE must still pick a broadcast
    // join here from the observed post-shuffle size
    val df = QueryPack.decontamination(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected AQE to broadcast the eval shingle set in:\n$plan")
  }

  test("q60: corpus top-k bigrams plans TakeOrderedAndProject, not a full sort") {
    val plan = executedPlan(QueryPack.topBigrams(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected top-k (no global sort) in:\n$plan")
  }

  test("q62: full outer join stays an equi-join over pre-aggregated sides") {
    val plan = executedPlan(QueryPack.fullOuterNation(spark, dir))
    assert(plan.contains("FullOuter"), s"expected a full outer join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "full outer must stay an equi-join")
    // both sides aggregate BELOW the join: the join sees one row per
    // nation, not one per customer/supplier
    val opt = QueryPack.fullOuterNation(spark, dir).queryExecution.optimizedPlan.toString
    val joinIdx = opt.indexOf("Join FullOuter")
    val aggAfter = Iterator.iterate(opt.indexOf("Aggregate"))(i =>
      opt.indexOf("Aggregate", i + 1)).takeWhile(_ >= 0).count(_ > joinIdx)
    assert(joinIdx >= 0 && aggAfter >= 2,
      s"expected per-side pre-aggregation below the join in:\n$opt")
  }

  test("q64: embedding quantization is one map-side pass + one aggregate exchange") {
    val plan = executedPlan(QueryPack.embQuantize(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one shuffle (the final agg) in:\n$plan")
    assert(!plan.contains("BroadcastExchange"), "no join should appear")
  }

  test("q63: token-budget truncation is one map-side pass + one aggregate exchange") {
    val plan = executedPlan(QueryPack.tokenBudget(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one shuffle (the final agg) in:\n$plan")
  }

  test("q68: range-frame window plans one shuffle on the partition key") {
    val plan = executedPlan(QueryPack.trailingWindowOrders(spark, dir))
    assert(plan.contains("Window"), s"expected a window pass in:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey"),
      s"expected the custkey filter at the scan in:\n$plan")
  }

  test("q69: packing window's lang partitioning is reused by the final aggregate") {
    // window partitionBy(lang) and groupBy(lang) share a key — the plan
    // must shuffle ONCE, not re-exchange between window and aggregate
    val plan = executedPlan(QueryPack.sequencePack(spark, dir))
    assert(plan.contains("Window"), s"expected the cumulative window in:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected the window exchange to be reused by the aggregate in:\n$plan")
  }

  test("q71: salted aggregation shuffles twice — (key, salt) then key") {
    val plan = executedPlan(QueryPack.saltedEventSum(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected the salted + merge exchanges in:\n$plan")
    assert(plan.contains("_salt"), s"expected the salt key in the first exchange:\n$plan")
  }

  test("q39's scale path: approx_percentile tracks exact percentiles within sketch error") {
    // SCALING.md names approx_percentile (mergeable sketch partials,
    // bounded buffers) as the 100 TB route where q39's exact percentile
    // buffers whole groups; this pins that the documented swap is a
    // drop-in on real data
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, dir)
    val both = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.95)").as("exact"),
           expr("approx_percentile(l_quantity, 0.95, 10000)").as("approx"),
           max(col("l_quantity")).as("hi"), min(col("l_quantity")).as("lo"))
      .collect()
    both.foreach { r =>
      val span = r.getAs[Double]("hi") - r.getAs[Double]("lo")
      val err = math.abs(r.getAs[Double]("exact") - r.getAs[Double]("approx"))
      assert(err <= span * 0.02,
        s"${r.get(0)}: approx ${r.get(2)} vs exact ${r.get(1)} (span $span)")
    }
  }

  test("q42: as-of join plans a single shuffle pass, no range explosion") {
    val plan = executedPlan(QueryPack.asofLatestOrder(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"as-of composition must not cross-join:\n$plan")
    assert(plan.contains("Window"), s"expected the per-key window pass in:\n$plan")
  }

  test("q81: chunking explode is pure map-side — zero exchanges, generator inline") {
    val plan = executedPlan(QueryPack.chunkDocs(spark, dir))
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle (scan → explode → project only):\n$plan")
    assert(plan.contains("Generate"), s"expected the posexplode generator in:\n$plan")
  }

  test("q82: frame index shuffles only fixed-width rows — wrap/parse stay map-side") {
    // container wrap + sample-table parse run where the scan sits; the
    // exchanges carry (doc_id, 3 numeric aggregates) and the source
    // group keys — never blob bytes — so shuffle volume is rows, not
    // video bytes. No cartesian anywhere.
    val plan = executedPlan(QueryPack.frameIndexStats(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"frame-index join must stay an equi-join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, // per-doc agg, join alignment, per-source agg
      s"expected at most 3 keyed exchanges, got $exchanges in:\n$plan")
    assert(plan.contains("SerializeFromObject"),
      s"expected the typed wrap/parse pipeline inline above the scan:\n$plan")
  }

  test("q83: cross-corpus prefix join pushes the id slice to both scans") {
    val plan = executedPlan(QueryPack.crossCorpusDedup(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,2000)"),
      s"expected the doc_id slice at the parquet scan in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus candidates must meet in equi-joins only:\n$plan")
  }

  test("q84: semantic dedup verifies cosine IN the cluster join — no candidate shuffle") {
    val df = QueryPack.semanticDedupStats(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cluster self-join must stay an equi-join:\n$plan")
    // the cosine threshold must sit in the join condition (evaluated as
    // pairs stream through the joined codegen stage), not in a filter
    // above a materialized candidate set: the JOIN NODE'S OWN line must
    // mention array_dot, not merely some later operator
    assert(plan.contains("array_dot"),
      s"expected the in-join cosine verify in:\n$plan")
    val joinLineHasDot = plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("array_dot"))
    assert(joinLineHasDot,
      s"cosine verify should sit in the join condition, not after a shuffle:\n$plan")
  }

  test("q91: BM25 joins broadcast and the rank filter plans map-side WindowGroupLimit") {
    val plan = executedPlan(QueryPack.bm25TopDocs(spark, dir))
    // query terms / df / corpus stats are all human- or vocab-sized —
    // the corpus-sized side must never shuffle for them
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the term/df joins to broadcast in:\n$plan")
    // rank <= 10 becomes per-partition top-k BEFORE the exchange
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown on the rank filter in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"BM25 must not plan a data-sized cartesian:\n$plan")
  }

  test("q92: span windows shuffle as 64-bit hashes — no text column past the explode") {
    val df = QueryPack.dupSpans(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"expected the window-hash explode in:\n$plan")
    assert(plan.contains("Window"), s"expected the per-hash count window in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span sharing must stay keyed exchanges/equi-joins:\n$plan")
    // ids-only contract: every exchange carries hashes/ids/counts, never
    // the document text — no exchange line mentions the text column
    val badExchange = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .filter(_.contains("text"))
    assert(badExchange.isEmpty,
      s"window shuffle must not carry text:\n${badExchange.mkString("\n")}")
  }

  test("q93: JL projection is pure map-side — zero exchanges of any kind") {
    // q93 deliberately stays on the NARROW Tables.embeddings (round 14:
    // the scan floor was measured a 2× sf10 regression for this
    // projection-only consumer — moving 200k full vectors through a
    // round-robin exchange to parallelize cheap per-row math). Strict
    // no-Exchange assertion so nobody accidentally routes q93 through
    // embeddingsWide again; the keyed-only relaxation stays reserved
    // for queries that genuinely use the floor (q99/q100 below).
    val plan = executedPlan(QueryPack.jlProjection(spark, dir))
    assert(!plan.contains("Exchange"),
      s"projection must not shuffle at all (scan → project only):\n$plan")
    assert(plan.contains("array_dot"),
      s"expected the native dot-product expression in:\n$plan")
  }

  test("q97: span scrub never shuffles the text — the cut is map-side after the extent join") {
    val df = QueryPack.spanScrub(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"doc ⋈ extent-list must stay an equi-join:\n$plan")
    // the whole point of the rewrite: extents move to the text, the
    // text never moves to the extents — no exchange row carries `text`
    val badExchange = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .filter(_.contains("text"))
    assert(badExchange.isEmpty,
      s"scrub must not shuffle document text:\n${badExchange.mkString("\n")}")
  }

  test("q99/q100: the filter bundle and redaction are map-side — at most the rollup exchanges") {
    // the scan-parallelism floor's round-robin repartition above the
    // scan is not an operator shuffle — count keyed exchanges only
    def keyedExchanges(p: String): Int =
      p.linesIterator.count(l => l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning"))
    val p99 = executedPlan(QueryPack.c4Filter(spark, dir))
    // one partial/final aggregate pair → exactly one keyed exchange
    assert(keyedExchanges(p99) <= 1,
      s"five rules must ride one projection + one rollup exchange:\n$p99")
    val p100 = executedPlan(QueryPack.piiRedact(spark, dir))
    assert(keyedExchanges(p100) == 0,
      s"redaction must not shuffle by key (scan → project → filter only):\n$p100")
    // Round-15 pin: the regex-heavy n_redacted gate must evaluate ABOVE
    // the floor's round-robin exchange (the OptBarrier contract) — the
    // plan prints top-down, so the Filter line must come BEFORE the
    // Exchange line, and the gate must not be duplicated below it.
    // Lines are matched on their operator name, after the tree prefix
    // ("+- ", ":  ", "*(2) "), so a scan's "PushedFilters:" or another
    // exchange flavour cannot stand in for them.
    val lines = p100.linesIterator.map(_.replaceFirst("^[\\s:|+-]*(\\*\\(\\d+\\)\\s*)?", "")).toSeq
    val fIdx = lines.indexWhere(_.startsWith("Filter "))
    val eIdx = lines.indexWhere(_.startsWith("Exchange RoundRobinPartitioning"))
    if (eIdx >= 0) { // floor active (single-row-group corpus)
      assert(fIdx >= 0 && fIdx < eIdx,
        s"the PII gate filter must sit above the widening exchange:\n$p100")
      // the tree prints top-down, so "above the exchange" = an earlier
      // line; the three extract_alls must appear in exactly one
      // operator, and that operator must be above the exchange
      val gateLines = lines.zipWithIndex.filter(_._1.contains("regexp_extract_all"))
      assert(gateLines.size == 1 && gateLines.forall(_._2 < eIdx),
        s"the gate must evaluate once, above the exchange:\n$p100")
    }
  }

  test("q103: CDC chunking is map-side — only the two fixed-width agg exchanges, no join") {
    val plan = executedPlan(QueryPack.cdcChunkDedup(spark, dir))
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
      s"chunk build must not shuffle; only (lang,hash) and lang rollups may:\n$plan")
    assert(!plan.contains("Join"),
      s"CDC dedup is aggregate-only, no join:\n$plan")
  }

  test("q102: the hashed classifier scores map-side — model as literals, one rollup exchange") {
    val plan = executedPlan(QueryPack.qualityClassifier(spark, dir))
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      s"scoring must not shuffle and must not join a model table:\n$plan")
    assert(!plan.contains("Join"),
      s"the weight vector rides the expression tree, not a join:\n$plan")
  }

  test("q85: prototype pruning broadcasts the centroid table and shuffles by label once") {
    val df = QueryPack.prototypePruneStats(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected the per-cluster centroid table to broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"centroid join must stay a hash join:\n$plan")
    assert(plan.contains("Window"), s"expected the per-cluster rank window in:\n$plan")
  }

  test("q131: corpus index and hash sets stream — no shuffle carries arrays or buckets") {
    val df = QueryPack.incrementalDedup(spark, dir)
    df.collect() // finalize AQE on THIS QueryExecution (noop write plans its own)
    val exchanges = collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only rows that may hash-exchange are the candidate sliver and
    // the per-doc decision rollups: ids + scalars. The corpus-sized
    // band index (bucket cols) and shingle-hash sets (sh arrays) must
    // reach their joins as STREAMED probe sides of broadcast joins —
    // the 265 MB-shuffle regression this pin guards against.
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(n => n.startsWith("sh") || n == "bucket" || n == "minhash"),
        s"corpus-sized columns in a shuffle: $names")
    }
    // collect() walks the FINAL adaptive plan only (the executedPlan
    // string also prints the pre-AQE initial plan)
    val smjs = collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smjs.isEmpty,
      s"all probe/verify joins must be broadcast-hash, found ${smjs.size} sort-merge joins")
  }

  test("q132/q38: the per-query ANN rank exchange carries ids+cosine, never vectors") {
    // q132's label-keyed in-cell join legitimately moves vectors ONCE;
    // the per-query rank exchange (hashpartitioning on query_id) must
    // not — ivfTopK/mutualFromCells project vectors away first
    for (q <- Seq("q132_mutual_knn", "q38_knn_ivf")) {
      val df = QueryPack.all(q)(spark, dir)
      df.collect()
      // the in-cell rank exchange is the one carrying `cosine` (q38's
      // probe-rank exchange may carry its FEW query vectors — that side
      // is query-set-sized by ivfTopK's contract, never corpus-sized)
      val exchanges = collect(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.output.exists(_.name == "cosine") => e
      }
      assert(exchanges.nonEmpty, s"$q: expected the in-cell rank exchange")
      exchanges.foreach { e =>
        val names = e.output.map(_.name)
        assert(!names.exists(n => n == "q_emb" || n == "c_emb" || n == "embedding"),
          s"$q shuffles raw vectors through the rank exchange: $names")
      }
    }
    // and the graph build never broadcasts corpus-sized query vectors
    val df = QueryPack.all("q132_mutual_knn")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"q132 must assign probe cells map-side, not cross-join centroids:\n$plan")
  }

  test("q133: planning is window+rollup over the manifest — no join, bounded exchanges") {
    val df = QueryPack.compactionPlan(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"compaction planning must not join:\n$plan")
    val exchanges = collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // manifest agg (×2 subtrees unless reused) + the part_key window;
    // the bin rollup must REUSE the window's part_key clustering
    assert(exchanges.size <= 3,
      s"expected ≤ 3 shuffles (manifest aggs + window), got ${exchanges.size}:\n$plan")
  }

  test("q136: the schedule head is TakeOrdered — no global sort materializes") {
    val plan = executedPlan(QueryPack.mixSchedule(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the top-100 cut in:\n$plan")
  }
}
