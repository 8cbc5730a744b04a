package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executable plan-shape gates: the SURVEY §4 scale claims (pushdown,
  * pruning, map-side partial aggregation, bounded shuffle counts) as
  * assertions over the physical plan, so a regression that silently
  * changes a plan shape fails the suite, not just an eyeball audit.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q6: filters reach the parquet scan and unused columns are pruned") {
    val p = plan("q6_forecast_revenue")
    // (the toString elides long filter lists, so match a stable prefix)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // the scan must not read columns q6 never touches
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey") &&
      !readSchema.contains("l_returnflag"), readSchema)
  }

  test("q1: single aggregation shuffle, map-side partial aggregation") {
    val p = plan("q1_pricing_summary")
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
    assert(countOf(p, "HashAggregate") >= 2, p) // partial + final
  }

  test("q5: fixed dims broadcast; the fact scan is column-pruned") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastExchange"), p)
    val lineitemScan = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("l_extendedprice"))
      .mkString
    assert(!lineitemScan.contains("l_quantity"), lineitemScan)
  }

  test("sim_topk_bruteforce: bounded-heap partial top-k BEFORE the exchange") {
    val p = plan("sim_topk_bruteforce")
    assert(p.contains("partial_top_k_by_score") ||
      p.contains("partial top_k_by_score"), p)
    // never a corpus-wide ranking window
    assert(!p.contains("row_number"), p)
  }

  test("pipeline_pack: exactly one data shuffle (the bucket shard)") {
    val p = plan("pipeline_pack")
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
  }

  test("dedup_exact: one shuffle, combiner-backed aggregation") {
    val p = plan("dedup_exact")
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
    assert(countOf(p, "HashAggregate") >= 2, p)
  }

  test("q2: part filter broadcast ahead of the fact agg; argmin adds no second fact pass") {
    val p = plan("q2_min_cost_supplier")
    // lineitem appears exactly once — the windowed argmin must not re-scan
    assert(countOf(p, "lineitem.parquet") === 1, p)
    // pair agg is map-side combined before its shuffle
    assert(countOf(p, "HashAggregate") >= 2, p)
    assert(p.contains("Window"), p)
  }

  test("q20: windowed majority test reuses the aggregated relation, single fact scan") {
    val p = plan("q20_dominant_supplier")
    assert(countOf(p, "lineitem.parquet") === 1, p)
    assert(p.contains("Window"), p)
  }

  test("text_pii_redact / pipeline_length_hist: map-side only (no join, no window)") {
    for (q <- Seq("text_pii_redact", "pipeline_length_hist")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q:\n$p")
      assert(!p.contains("Window"), s"$q:\n$p")
      // redaction is pure projection: the only exchanges are agg/sort ones
      assert(countOf(p, "Exchange hashpartitioning") <= 1, s"$q:\n$p")
    }
  }

  test("text_bm25: df + corpus aggregates broadcast; scans read only doc_id/text; no window") {
    val p = plan("text_bm25")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"), p)
    // every documents scan is column-pruned to the two touched columns
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!scans.contains("n_chars") && !scans.contains("source"), scans)
  }

  test("sim_range_search: threshold filters map-side — no shuffle before the output sort") {
    val p = plan("sim_range_search")
    // queries broadcast; corpus never hash-shuffles (only the final sort
    // range-partitions)
    assert(p.contains("BroadcastExchange"), p)
    assert(countOf(p, "Exchange hashpartitioning") === 0, p)
    assert(!p.contains("row_number"), p)
  }

  test("dedup_incremental: warehouse side prunes to the bare fingerprint before the anti-join") {
    val p = plan("dedup_incremental")
    assert(p.contains("LeftAnti"), p)
    // the anti-join build side must not carry text (8-byte keys only)
    val buildSide = p.linesIterator.filter(_.contains("BroadcastExchange"))
      .mkString
    assert(!buildSide.contains("text"), p)
  }

  test("exact dedup candidate joins stay equi-keyed — no cartesian/BNLJ fallback") {
    // sim_dbscan's public query now returns the stored-labeling scan
    // (ArtifactStore), so the audit reads the labeling PIPELINE's plan
    // directly
    val dbscanPlan = graft.operators.Dedup
      .dbscanLabels(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    for ((q, p) <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh",
        "mm_cdc_incremental", "dedup_editdistance", "dedup_containment",
        "warehouse_ivm", "q_markov_stationary")
        .map(q => q -> plan(q)) :+ ("sim_dbscan(labels)" -> dbscanPlan)) {
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("sim_knn_graph: bounded-heap partial top-k, no per-vector ranking window") {
    val p = plan("sim_knn_graph")
    assert(p.contains("partial_top_k_by_score") ||
      p.contains("partial top_k_by_score"), p)
    assert(!p.contains("row_number"), p)
  }

  test("pipeline_interleave: no ranking window and no single-partition pass") {
    val p = plan("pipeline_interleave")
    // seq comes from the two-pass distributed rank (Ranks.groupedRowNumber);
    // the final ORDER BY is the only global ordering and it is range-
    // partitioned, never a WindowExec single-reducer
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("row_number"), p)
  }

  test("text_keywords / pipeline_token_budget: ranking/running windows are partitioned") {
    // both windows key on a bounded partition (one doc's terms; one
    // (source, hash-shard) slice) — the Window operator line lists the partition spec
    // between the function list and the ordering, empty for a global
    // window. (text_keywords still has one legitimate SinglePartition
    // exchange: the 1-row corpus count.)
    for ((q, key) <- Seq("text_keywords" -> "doc_id",
        "pipeline_token_budget" -> "source")) {
      val p = plan(q)
      val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.nonEmpty && windows.forall(_.contains(s"], [$key")),
        s"$q:\n${windows.mkString("\n")}")
    }
    // the top-3 filter is pushed into the sort as a group-limit, so the
    // per-doc partition never fully ranks
    assert(plan("text_keywords").contains("WindowGroupLimit"))
  }

  test("pipeline_decontaminate: gram joins are semi/anti — text never widens the shuffle") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    // the gram-side relations carry ids only; document text must stay out
    // of every exchange (only the final output projection may read it)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchanges.contains("text"), exchanges)
  }

  test("dedup_stats: digest-only shuffle — raw text never crosses the wire") {
    val p = plan("dedup_stats")
    assert(countOf(p, "Exchange hashpartitioning") === 2, p) // per-hash, per-source
    assert(p.contains("HashAggregate"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchanges.contains("text#"), exchanges)
  }

  test("q_events_rfm: one per-user aggregate, reference joined as 1-row broadcast") {
    val p = plan("q_events_rfm")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
  }

  test("pipeline_stratified_sample: rank filter becomes a WindowGroupLimit") {
    // the ≤30 rank filter must prune per-stratum rows BEFORE any full
    // sort materializes — cost quota × strata, not corpus size
    val p = plan("pipeline_stratified_sample")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dedup_substring: double aggregation, never a count-distinct Expand") {
    val p = plan("dedup_substring")
    assert(!p.contains("Expand"), p)
    // (span, doc) partials then per-span rollup — both combiner-backed
    assert(countOf(p, "HashAggregate") >= 4, p)
  }

  test("mm_scene_cut / q_events_changepoint: all windows share ONE data shuffle") {
    // scene_cut: explode + lag + final agg all ride the doc_id
    // partitioning; changepoint: running-sum, partition-total, and argmax
    // windows all ride the event_type partitioning. One hash exchange
    // each (the orderBy adds a range exchange) — a second would mean a
    // window lost the shared partitioning.
    for (q <- Seq("mm_scene_cut", "q_events_changepoint")) {
      val p = plan(q)
      assert(countOf(p, "Exchange hashpartitioning") === 1, s"$q:\n$p")
    }
  }

  test("mm_cdc_neardup / mm_cdc_incremental: payload bytes never shuffle") {
    // chunking digests map-side out of the cached signature relation;
    // every exchange carries digests/ids only — payload (binary) and its
    // source text stay in the scan
    for (q <- Seq("mm_cdc_neardup", "mm_cdc_incremental")) {
      val p = plan(q)
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString
      assert(!exchanges.contains("payload#") && !exchanges.contains("text#"),
        s"$q exchanges carry payload/text:\n$exchanges")
    }
  }

  test("q_incremental_antijoin: ts cutoffs reach the events parquet scan") {
    // the loader passes the scan through untouched (LTZ-infer conf), so
    // both snapshot cutoffs must land in PushedFilters — a cast or
    // projection reappearing over ts would silently strip this at 100 TB
    val p = plan("q_incremental_antijoin")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), p)
    assert(p.contains("LessThan(ts,"), p)
    // the warehouse side reads only the anti-join key + cutoff column
    val whScan = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("events.parquet"))
      .find(_.contains("struct<event_id:bigint,ts:timestamp>"))
    assert(whScan.isDefined, p)
  }

  test("pagerank round moves zero edge bytes in BOTH join regimes") {
    // the per-round contrib join over a persisted src-partitioned edge
    // cache: broadcast regime broadcasts scores into the cache scan
    // (only exchange = the contrib agg); co-partitioned regime shuffles
    // ONLY the slim routed scores (cache partitioning satisfies the
    // join) — an exchange on the edge branch in either regime means the
    // stationary cache stopped being stationary
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    import graft.operators.Relational
    val ss = spark
    import ss.implicits._
    // the toString of an InMemoryTableScan embeds the cached relation's
    // BUILD plan (exchanges that ran once at persist time, not per
    // round) — drop everything indented under InMemoryRelation so the
    // counts below see only the per-round plan
    def stripCachedBuild(p: String): String = {
      var skipIndent = -1
      p.linesIterator.filter { l =>
        val indent = l.indexWhere(_.isLetter)
        if (skipIndent >= 0 && (indent > skipIndent || indent < 0)) false
        else {
          skipIndent = if (l.contains("InMemoryRelation")) indent else -1
          true
        }
      }.mkString("\n")
    }
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val edges = edges0
      .join(edges0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")),
        Seq("src"))
      .repartition(col("src"))
      .persist()
    edges.count()
    try {
      val scores = Seq((1L, 1000000L), (2L, 1000000L), (3L, 1000000L))
        .toDF("v", "s")
      val pb = stripCachedBuild(Relational
        .pagerankContrib(edges, scores, broadcast)
        .queryExecution.executedPlan.toString)
      assert(pb.contains("BroadcastHashJoin"), pb)
      assert(pb.contains("InMemoryTableScan"), pb)
      assert(countOf(pb, "Exchange hashpartitioning") === 1, pb) // agg only
      val pr = stripCachedBuild(Relational
        .pagerankContrib(edges, scores, df => df.repartition(col("v")))
        .queryExecution.executedPlan.toString)
      assert(pr.contains("InMemoryTableScan"), pr)
      // scores route + contrib agg — and NOTHING on the edge branch
      assert(countOf(pr, "Exchange hashpartitioning") === 2, pr)
    } finally edges.unpersist()
  }

  test("custom expressions run inside WholeStageCodegen spans") {
    // the fingerprint kernel is a custom Catalyst expression with
    // doGenCode — its Project must carry the codegen marker (*), proving
    // the custom op doesn't break the fused stage. AQE only shows codegen
    // markers on the FINAL plan, so execute first.
    val df = SparkEntry.queries("text_fingerprint")(spark, TestSpark.sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fpLine = p.linesIterator
      .find(l => l.contains("fingerprint") && l.contains("Project"))
    assert(fpLine.exists(_.trim.split("\\s+").exists(_.startsWith("*("))),
      s"fingerprint Project not codegen'd:\n$p")
    // and nothing anywhere falls back to interpreted Python/eval paths
    assert(!p.contains("BatchEvalPython") && !p.contains("MapInPandas"), p)
  }

  test("q_sliding_distinct: bitmaps never cross an exchange — slim raw " +
      "rows repartition by day, partial+final bitmap agg in-partition") {
    // the partial-bitmap trap: a bitmap partial is fixed-size PER GROUP
    // PER MAP PARTITION, so letting the default partial→exchange→final
    // plan run ships groups × partitions × domain/8 bytes. The shipped
    // plan repartitions the 16-byte raw rows instead — the ONLY
    // hashpartitioning exchange — and both aggregate phases run inside
    // the day's partition; the single-partition exchange is the
    // calendar-bounded window merge over the daily relation.
    val p = plan("q_sliding_distinct")
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
    assert(countOf(p, "Exchange SinglePartition") === 1, p)
    assert(p.contains("bitmap_agg"), p)
  }

  test("SUITE-WIDE: no empty-partition Window over unbounded input in any " +
      "of the oracle-graded plans (the r11 ranking-window class, dead)") {
    // Every Window whose partition keys are empty (or foldable — the
    // partitionBy(lit(1)) global-count trick) funnels its entire input
    // through ONE task. That is only legal above a cardinality-bounding
    // node: an Aggregate to a calendar/dimension/replicate grain, a
    // Limit, or a cache whose build plan aggregates. The allowlist names
    // every query that legitimately does so and WHY its window input is
    // bounded; any new query that ranks/bands a fact-sized relation
    // through a global window lands here as a diff and fails.
    val allow = Map(
      "graph_modularity" -> "community relation (LPA label count)",
      "q_benford_audit" -> "9 leading-digit rows",
      "q_customer_survival" -> "lifetime-month grain",
      "q_events_tail_dependence" -> "daily grain (calendar-bounded)",
      "q_nvd_score_drift" -> "severity-transition grain",
      "q_orders_backlog" -> "daily grain (calendar-bounded)",
      "q_orders_growth_decomp" -> "yearly grain",
      "q_orders_hill_tail" -> "LIMIT k+1 = 201 rows",
      "q_orders_mad_outliers" -> "monthly grain (cached aggregate)",
      "q_orders_mom" -> "monthly grain",
      "q_orders_runs_test" -> "daily grain (calendar-bounded)",
      "q_orders_subsample_ci" -> "200 bootstrap replicates",
      "q_orders_theilsen" -> "monthly grain + month-pairs (cached agg)",
      "q_sliding_distinct" -> "daily grain (calendar-bounded bitmap rollup)",
      "text_zipf" -> "LIMIT 100 top terms")
    val found = scala.collection.mutable.Map[String, Seq[String]]()
    for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val bounds = WindowSweep.globalWindowBounds(q(spark, TestSpark.sfDir))
      if (bounds.nonEmpty) found(name) = bounds
      spark.catalog.clearCache()
    }
    val unbounded = found.filter(_._2.contains("UNBOUNDED"))
    assert(unbounded.isEmpty,
      s"global windows over UNBOUNDED input: $unbounded")
    assert(found.keySet === allow.keySet,
      s"global-window query set drifted — new: ${found.keySet -- allow.keySet}, " +
        s"gone: ${allow.keySet -- found.keySet} (update the allowlist ONLY " +
        "with a boundedness justification)")
  }

  test("the r11 weak-on-plan five: rank/band without any corpus-sized " +
      "window partition") {
    // kendall / deciles / interleave rank via Ranks.rowNumber (range sort
    // + zipWithIndex) — no Window node may exist anywhere in their plans
    for (q <- Seq("q_events_kendall", "q_events_deciles",
        "pipeline_interleave")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q grew a ranking window back:\n$p")
      spark.catalog.clearCache()
    }
    // token_budget / vocab_growth keep a running-sum window but every
    // partition is hash-shard-bounded: the window's partition spec must
    // include the shard key, never source/nothing alone
    for (q <- Seq("pipeline_token_budget", "text_vocab_growth")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      val specs = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          w.partitionSpec.map(_.sql).mkString(",")
      }
      assert(specs.nonEmpty && specs.forall(_.contains("shard")),
        s"$q window partitions lost the shard bound: $specs")
      spark.catalog.clearCache()
    }
  }

  test("q_events_band_join: bucket expansion keeps the range join equi-keyed") {
    val p = plan("q_events_band_join")
    // the whole point of the 3x bucket fan-out: the +-60s theta join must
    // plan as a hash join on the bucket id, never a cartesian/BNLJ sweep
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate explode"), p) // fan-out is map-side
  }

  test("graph_hits: score vectors broadcast into the cached edge list; " +
      "the only nested-loop joins are the two 1-row max-score cross joins") {
    val p = plan("graph_hits")
    assert(!p.contains("CartesianProduct"), p)
    // hub-side and auth-side normalization each crossJoin a 1-row agg
    assert(countOf(p, "BroadcastNestedLoopJoin") <= 2, p)
    // every mutual-reinforcement round reads edges from cache, not parquet
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q_user_streaks / q_orders_interarrival / q_events_ewma: windows " +
      "and kernels stay co-partitioned — no global single-partition pass") {
    for (q <- Seq("q_user_streaks", "q_orders_interarrival")) {
      val p = plan(q)
      assert(!p.contains("Exchange SinglePartition"), s"$q:\n$p")
    }
    val p = plan("q_events_ewma")
    // the 20-day kernel is an equi-join on event_type with a band filter,
    // never a cartesian sweep of the daily relation
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_customer_mahalanobis: consumers read the per-customer CACHE " +
      "(single fact materialization), broadcast moments, no window, " +
      "TakeOrdered cut") {
    val p = plan("q_customer_mahalanobis")
    // both consumers (scored output + 1-row moment agg) hit the cache;
    // the raw scan lives only inside the cached build (its plan string
    // repeats under AQE, so count cache READS, not parquet mentions)
    assert(countOf(p, "InMemoryTableScan") === 2, p)
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_benford_audit: map-side combine collapses the scan before " +
      "the only shuffle; the scan reads only the price column") {
    val p = plan("q_benford_audit")
    assert(countOf(p, "lineitem.parquet") === 1, p)
    assert(countOf(p, "HashAggregate") >= 2, p) // partial + final
    val readSchema = p.linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_quantity") &&
      !readSchema.contains("l_orderkey"), readSchema)
  }

  test("q_orders_holt / q_orders_theilsen: the fact scan collapses " +
      "map-side to month rows before any month-level work") {
    // holt: no cache -- exactly one parquet mention in the plan
    val ph = plan("q_orders_holt")
    assert(countOf(ph, "orders.parquet") === 1, ph)
    assert(countOf(ph, "HashAggregate") >= 2, ph) // partial+final
    // theilsen: the month relation persists once; all three consumers
    // (pair-join sides a/b + OLS moments) read the CACHE
    val pt = plan("q_orders_theilsen")
    assert(countOf(pt, "InMemoryTableScan") === 3, pt)
    for ((q, p) <- Seq(("q_orders_holt", ph), ("q_orders_theilsen", pt))) {
      val readSchema = p.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("o_totalprice"))
        .mkString
      assert(!readSchema.contains("o_comment") &&
        !readSchema.contains("o_clerk"), s"$q $readSchema")
    }
  }

  test("q_value_mannwhitney: rank windows run over the distinct-value " +
      "histogram, never the event rows") {
    val p = plan("q_value_mannwhitney")
    assert(countOf(p, "events.parquet") === 1, p)
    // the (dow, value) histogram aggregate sits BELOW the window: a
    // partial+final pair precedes it in the plan
    assert(countOf(p, "HashAggregate") >= 2, p)
    assert(p.contains("Window"), p)
  }

  test("q_orders_subsample_ci: replicate memberships in ONE custom " +
      "aggregate pass — no x200 row explode over data") {
    val p = plan("q_orders_subsample_ci")
    // all 200 (sum, count) pairs live in a single subsample_sums buffer;
    // the only Generate unnests the 200-element result of the 1-row agg
    assert(p.contains("subsample_sums"), p)
    assert(countOf(p, "Generate explode") <= 1, p)
    val readSchema = p.linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("o_comment") &&
      !readSchema.contains("o_orderdate"), readSchema)
  }

  test("q_events_kendall / q_part_chi2: one data-sized shuffle, then " +
      "broadcast-joined constant-size grids") {
    for (q <- Seq("q_events_kendall", "q_part_chi2")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange") ||
        p.contains("BroadcastNestedLoopJoin"), s"$q\n$p")
      // no sort-merge join: every grid/marginal join rides a broadcast
      assert(!p.contains("SortMergeJoin"), s"$q\n$p")
    }
  }

  test("graph_link_prediction / text_burstiness / q_orders_hill_tail / " +
      "pipeline_dsir_weights: top-k is a bounded TakeOrdered, candidate " +
      "joins stay equi-keyed") {
    for (q <- Seq("graph_link_prediction", "text_burstiness",
        "q_orders_hill_tail", "pipeline_dsir_weights")) {
      val p = plan(q)
      // bounded top-k, never a global sort feeding a limit downstream
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // the df-capped pair join must not degenerate (dsir's 1-row
    // vocab-size crossJoins are the accepted broadcast-literal BNLJs)
    assert(!plan("graph_link_prediction")
      .contains("BroadcastNestedLoopJoin"))
  }

  test("text_readability: map-side regex work only — no join, no window, " +
      "one aggregation shuffle") {
    val p = plan("text_readability")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(countOf(p, "Exchange hashpartitioning") <= 1, p)
  }

  test("q_events_mutual_info / q_lineitem_anova: fact collapses in ONE " +
      "combined aggregate; cell-relation work rides broadcasts") {
    for (q <- Seq("q_events_mutual_info", "q_lineitem_anova")) {
      val p = plan(q)
      assert(countOf(p, "HashAggregate") >= 2, s"$q:\n$p") // partial+final
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
    // anova is uncached: exactly one fact scan feeds everything
    assert(countOf(plan("q_lineitem_anova"), "lineitem.parquet") === 1)
    // MI's cell relation is the persisted multi-consumer cache — every
    // consumer reads the InMemoryTableScan, never a fresh fact scan
    assert(plan("q_events_mutual_info").contains("InMemoryTableScan"))
  }
}
