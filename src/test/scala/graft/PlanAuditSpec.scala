package graft

/** Plan-shape audit for the round-6 operators: none of them may plan a
  * CartesianProduct (the only nested-loop joins allowed are 1-row /
  * broadcast legs), and the triangle count must keep its edge build
  * materialized — without the localCheckpoint the three output legs
  * re-run the basket self-join + distinct each (audited at 94 Exchanges
  * vs 22 after).
  */
class PlanAuditSpec extends SparkSpec {

  private val audited = Seq(
    "text_tfidf_terms" -> (graft.queries.TextQueries.tfidfTerms _),
    "text_perplexity" -> (graft.queries.TextQueries.perplexity _),
    "graph_triangles" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        graft.queries.GraphQueries.triangleCount(s, d)),
    "graph_triangles_partitioned" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        graft.queries.GraphQueries.triangleCount(s, d, broadcastAdj = false)),
    "merge_upsert" -> (graft.queries.EventQueries.mergeUpsert _),
    "events_value_mad" -> (graft.queries.EventQueries.valueMad _))

  test("round-6 operators plan no CartesianProduct") {
    audited.foreach { case (name, f) =>
      val p = planOf(f(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }

  test("triangle count materializes the edge build once (no SMJ, bounded exchanges)") {
    val p = planOf(graft.queries.GraphQueries.triangleCount(spark, sf))
    // deg joins must broadcast (node-sized), never re-exchange the edges
    assert(!p.contains("SortMergeJoin"), s"deg join regressed to SMJ:\n$p")
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges <= 30, s"edge build duplicated again ($exchanges exchanges):\n$p")
  }

  test("partitioned triangle count plans NO broadcast hash join anywhere") {
    val p = planOf(
      graft.queries.GraphQueries.triangleCount(spark, sf, broadcastAdj = false))
    // the beyond-broadcast spelling: adjacency AND degree joins are
    // shuffled hash joins keyed on src/dst — nothing node-sized is ever
    // collected to one executor. (The three 1-row count legs at the top
    // combine via BroadcastNestedLoopJoin — scalar, allowed.)
    assert(!p.contains("BroadcastHashJoin"),
      s"partitioned spelling broadcasts a node-keyed table:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"partitioned spelling lost its shuffle-hash joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"hint ignored, SMJ planned:\n$p")
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges <= 40,
      s"partitioned spelling duplicated a build ($exchanges exchanges):\n$p")
  }

  test("both triangle spellings count the same triangles") {
    val b = graft.queries.GraphQueries.triangleCount(spark, sf).collect().head
    val h = graft.queries.GraphQueries.triangleCount(spark, sf, broadcastAdj = false)
      .collect().head
    assert(b.toSeq == h.toSeq,
      s"broadcast ${b.toSeq} != partitioned ${h.toSeq}")
  }

  test("round-7 TPC-H shapes: no cartesian; geography dims broadcast") {
    val tpch = Seq(
      "q7_volume_shipping" -> (graft.queries.Relational.q7VolumeShipping _),
      "q8_market_share" -> (graft.queries.Relational.q8MarketShare _),
      "q10_returned_items" -> (graft.queries.Relational.q10ReturnedItems _),
      "q14_promo_revenue" -> (graft.queries.Relational.q14PromoRevenue _),
      "q18_large_orders" -> (graft.queries.Relational.q18LargeOrders _))
    tpch.foreach { case (name, f) =>
      val p = planOf(f(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
    // the nation-role joins in q7 must both be broadcast (never an
    // exchange of the fact side keyed on a 25-row dim)
    val q7 = planOf(graft.queries.Relational.q7VolumeShipping(spark, sf))
    assert(q7.contains("BroadcastHashJoin"), s"q7 lost its dim broadcasts:\n$q7")
  }

  test("weighted sample plans one scan, no join") {
    val p = planOf(graft.queries.Sampling.weightedSample(spark, sf))
    assert(!p.contains("Join"), s"weighted sample must not join:\n$p")
  }

  test("CDC chunk ops: digest-keyed joins only, never a cartesian") {
    for ((name, df) <- Seq(
      "multimodal_cdc_chunks" -> graft.llm.Multimodal.cdcChunkStats(spark, sf),
      "multimodal_cdc_pairs" -> graft.llm.Multimodal.cdcSharedPairs(spark, sf))) {
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ:\n$p")
    }
  }

  test("PCA projection is a narrow map: no exchange after the literal projection") {
    // the projection query's distributed part: one scan + final sort for
    // presentation; eigenvectors ride as literals, so no join at all
    val p = planOf(graft.queries.EmbeddingQueries.pcaProject(spark, sf))
    assert(!p.contains("Join"), s"PCA projection must not join:\n$p")
  }

  test("funnel window-spelling reads events once: no joins, one scan") {
    val p = planOf(graft.queries.EventQueries.funnelStages(spark, sf))
    assert(!p.contains("Join"), s"window funnel must not join:\n$p")
    val scans = p.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected ONE events scan, got $scans:\n$p")
  }

  test("attribution is one window pass: no self-join of the events table") {
    val p = planOf(graft.queries.EventQueries.attributionLastTouch(spark, sf))
    assert(!p.contains("Join"), s"attribution must carry-forward, not join:\n$p")
    val scans = p.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected ONE events scan, got $scans:\n$p")
  }

  test("stats histogram is scan + group only: no window, no global sort spine") {
    val p = planOf(graft.queries.Relational.statsHistogram(spark, sf))
    assert(!p.contains("Window"), s"equi-width must not need a window:\n$p")
    assert(!p.contains("Join"), s"histogram must not join:\n$p")
  }

  test("IVM refresh merges partials: two filtered scans, no join, no rescan") {
    val p = planOf(graft.queries.Relational.ivmRefresh(spark, sf))
    assert(!p.contains("Join"), s"partial-merge must be a union-agg:\n$p")
    // both legs push their date filter to the scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"cutoff filters not pushed:\n$p")
  }

  test("round-8 governance/graph/sketch operators plan no CartesianProduct") {
    val r8 = Seq(
      "dq_expectations" -> (graft.queries.Governance.dqExpectations _),
      "split_leakage_audit" -> (graft.queries.Governance.splitLeakageAudit _),
      "winsorize_stats" -> (graft.queries.Governance.winsorizeStats _),
      "split_balance_chisq" -> (graft.queries.Governance.splitBalanceChisq _),
      "graph_khop_reach" ->
        ((s: org.apache.spark.sql.SparkSession, d: String) =>
          graft.queries.GraphQueries.khopReach(s, d)),
      "join_size_estimate" -> (graft.queries.EventQueries.joinSizeEstimate _),
      "sketch_hll_intersect" -> (graft.queries.EventQueries.hllIntersect _))
    r8.foreach { case (name, f) =>
      val p = planOf(f(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }

  test("khopReach: adjacency is a reused checkpoint; levels join hash-keyed") {
    val p = planOf(graft.queries.GraphQueries.khopReach(spark, sf))
    // the edge table must come from the materialization (LogicalRDD /
    // Scan ExistingRDD), NOT be re-derived from parquet per level
    assert(!p.contains("Scan parquet"),
      s"k-hop final agg must read only materialized levels:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"level joins must stay key-equi:\n$p")
  }

  test("winsorizeStats: one exchange keys the windows AND the final agg") {
    val p = planOf(graft.queries.Governance.winsorizeStats(spark, sf))
    // rank windows and bounds aggregation all partition by event_type;
    // the join back is on the same key. Nothing here may sort globally.
    assert(!p.contains("Sort [value"), s"no global sort spine expected:\n$p")
    assert(p.contains("Window"), s"rank windows missing:\n$p")
  }

  test("dqExpectations: single-column rules ride ONE aggregate per table") {
    val p = planOf(graft.queries.Governance.dqExpectations(spark, sf))
    // three report tables scanned once each + the two FK parent key
    // projections = 5 parquet scan nodes; a regression that re-scans
    // per RULE (or per FK child) would show 7+
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 5, s"expectation suite re-scans per rule ($scans scans):\n$p")
  }

  test("round-8 continuation operators plan no CartesianProduct") {
    val batch = Seq(
      "ts_seasonal_decompose" -> (graft.queries.TimeSeries.seasonalDecompose _),
      "ts_changepoint_cusum" -> (graft.queries.TimeSeries.cusumChangepoint _),
      "ts_autocorrelation" -> (graft.queries.TimeSeries.autocorrelation _),
      "stats_weighted_median" -> (graft.queries.Relational.weightedMedian _),
      "unpivot_metrics" -> (graft.queries.Relational.unpivotMetrics _),
      "governance_delete_impact" -> (graft.queries.Governance.deleteImpact _),
      "drift_mann_whitney" -> (graft.queries.Drift.mannWhitney _),
      "events_funnel_within" ->
        ((s: org.apache.spark.sql.SparkSession, d: String) =>
          graft.queries.EventQueries.funnelWithin(s, d)),
      "text_vocab_coverage" ->
        ((s: org.apache.spark.sql.SparkSession, d: String) =>
          graft.queries.TextQueries.vocabCoverage(s, d)),
      "graph_sssp" ->
        ((s: org.apache.spark.sql.SparkSession, d: String) =>
          graft.queries.GraphQueries.ssspBounded(s, d)))
    batch.foreach { case (name, f) =>
      val p = planOf(f(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }

  test("deleteImpact: subject list is broadcast; facts are scanned once each") {
    val p = planOf(graft.queries.Governance.deleteImpact(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"delete list must broadcast against the facts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no fact-to-fact shuffle join expected:\n$p")
  }

  test("vocabCoverage: bounded top-K vocab (TakeOrdered), broadcast probe") {
    val df = graft.queries.TextQueries.vocabCoverage(spark, sf)
    val p = planOf(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab must be a bounded top-K, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab must broadcast onto the token stream:\n$p")
  }

  test("ssspBounded: rounds read the materialized adjacency, never parquet") {
    val p = planOf(graft.queries.GraphQueries.ssspBounded(spark, sf))
    assert(!p.contains("Scan parquet"),
      s"SSSP final agg must read only materialized rounds:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"relaxation joins must stay key-equi:\n$p")
  }

  test("survival/lift/concurrency batch: plan shapes hold their contracts") {
    // decileLift: one customer aggregate, broadcast total, no cartesian
    // beyond the 1-row total cross
    val lift = planOf(graft.queries.Relational.decileLift(spark, sf))
    assert(!lift.contains("SortMergeJoin"),
      s"decile lift joins only the 1-row broadcast total:\n$lift")
    // kaplanMeier: windows run over the materialized duration grid —
    // no parquet scan may appear in the curve computation
    val km = planOf(graft.queries.Survival.kaplanMeier(spark, sf))
    assert(!km.contains("SortMergeJoin") && !km.contains("CartesianProduct"),
      s"KM joins only the broadcast horizon row:\n$km")
    // maxConcurrency: the within-day window is PARTITIONED by day (the
    // two-level prefix sum) — the only single-partition window is the
    // day-cardinality carry-in and the final top-5 rank
    val mc = graft.queries.EventQueries.maxConcurrency(spark, sf)
    val p = planOf(mc)
    assert(p.contains("windowspecdefinition(day"),
      s"in-day running sum must partition by day:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the sweep:\n$p")
    // theilSen: the pairing is the INTENTIONAL bounded nested-loop over
    // the day-aggregated series, materialized ONCE — so the final plan
    // must read the slope multiset from the checkpoint (ExistingRDD),
    // never re-run the pairing (no nested loop) or touch parquet
    val ts = planOf(graft.queries.TimeSeries.theilSen(spark, sf))
    assert(!ts.contains("BroadcastNestedLoopJoin"),
      s"pairing must run once inside the materialization:\n$ts")
    assert(ts.contains("Scan ExistingRDD") && !ts.contains("Scan parquet"),
      s"median must read the materialized slope multiset:\n$ts")
  }

  test("mining batch: keyed joins only; cohort window rides the grid") {
    for ((name, df) <- Seq(
        "cohort_ltv" -> graft.queries.Relational.cohortLtv(spark, sf),
        "basket_rules" -> graft.queries.GraphQueries.basketRules(spark, sf),
        "events_session_paths" -> graft.queries.EventQueries.sessionPaths(spark, sf))) {
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
    // sessionPaths: trigrams come from ONE window pass — no self-join
    // of events (the markovTransitions discipline)
    val sp = planOf(graft.queries.EventQueries.sessionPaths(spark, sf))
    assert(!sp.contains("SortMergeJoin") && !sp.contains("BroadcastHashJoin"),
      s"paths must be lead()s, not a self-join:\n$sp")
    // reachCurve: first-touch dedup + prefix sum — one aggregate chain,
    // never a per-day distinct-count join
    val rc = planOf(graft.queries.EventQueries.reachCurve(spark, sf))
    assert(!rc.contains("Join"), s"reach curve must not join:\n$rc")
    // embedOutliers: scoring is a narrow map over the corpus against a
    // label-sized broadcast — no vector-pair join exists
    val eo = planOf(graft.queries.EmbeddingQueries.outliersByLabel(spark, sf))
    assert(!eo.contains("CartesianProduct") && !eo.contains("SortMergeJoin"),
      s"outlier scoring joins only the label-sized broadcast:\n$eo")
    // welch: one aggregate over the sided scan; the only join is the
    // broadcast of the 1-row bounds
    val wt = planOf(graft.queries.Drift.welchTTest(spark, sf))
    assert(!wt.contains("SortMergeJoin"), s"welch is scan+agg only:\n$wt")
  }

  test("time-series ops: the fact table never enters a window") {
    // the window input must be the day-sized aggregate: asserting no
    // parquet scan appears BELOW a Window node would need tree walking;
    // cheaper pin: the plans contain exactly one scan of orders and the
    // exchanges around the window are single-partition over the
    // aggregated series (day cardinality), which AQE coalesces
    for (f <- Seq(graft.queries.TimeSeries.cusumChangepoint _,
        graft.queries.TimeSeries.autocorrelation _)) {
      val p = planOf(f(spark, sf))
      assert(!p.contains("Scan parquet"),
        s"series ops read the materialized day aggregate, not parquet:\n$p")
    }
  }

  test("partitioned link-Jaccard plans NO broadcast hash join over the adjacency") {
    val p = planOf(
      graft.queries.GraphQueries.linkJaccard(spark, sf, 20, broadcastAdj = false))
    // beyond-broadcast spelling: both adjacency joins are shuffled hash
    // joins keyed on u/v — the node-keyed neighbor-list table is never
    // collected to one executor
    assert(!p.contains("BroadcastHashJoin"),
      s"partitioned link-Jaccard broadcasts the adjacency:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"partitioned link-Jaccard lost its shuffle-hash joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"partitioned link-Jaccard degraded to a nested loop:\n$p")
  }

  test("partitioned resource-allocation plans NO broadcast hash join") {
    for ((name, df) <- Seq(
        "RA" -> graft.queries.GraphQueries
          .resourceAlloc(spark, sf, 20, broadcastAdj = false),
        "AA" -> graft.queries.GraphQueries
          .adamicAdar(spark, sf, 20, broadcastAdj = false),
        "CN" -> graft.queries.GraphQueries
          .commonNeighbors(spark, sf, 20, broadcastAdj = false),
        "PA" -> graft.queries.GraphQueries
          .prefAttachment(spark, sf, 20, broadcastAdj = false))) {
      val p = planOf(df)
      assert(!p.contains("BroadcastHashJoin"),
        s"partitioned $name broadcasts a node-keyed table:\n$p")
      assert(p.contains("ShuffledHashJoin"),
        s"partitioned $name lost its shuffle-hash joins:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"partitioned $name degraded to a nested loop:\n$p")
    }
  }

  test("declared graph layouts: each final plan keeps its exchange count") {
    // The iterative rows checkpoint their adjacency and vectors through
    // Graft.materializeHashed, which declares HashPartitioning at the
    // session's shuffle-partition count so the next join on the same key
    // reuses the layout. A declaration at any other count is not
    // compatible with the exchanges EnsureRequirements plans for the
    // other side, so a join re-exchanges and the count below moves.
    val want = Map(
      "graph_pagerank" -> 3,
      "graph_ppr_walks" -> 3,
      "graph_khop_reach" -> 2,
      "graph_sssp" -> 2,
      "graph_label_propagation" -> 1,
      "graph_kcore" -> 6,
      "graph_triangles_partitioned" -> 12,
      "graph_link_jaccard_partitioned" -> 2,
      "graph_resource_alloc_partitioned" -> 2,
      "graph_adamic_adar_partitioned" -> 2)
    val got = want.keys.toSeq.sorted.map { name =>
      name -> "Exchange".r.findAllIn(planOf(SparkEntry.queries(name)(spark, sf))).size
    }.toMap
    assert(got == want, s"exchange counts moved: ${got.toSeq.sorted.mkString(", ")}")
  }

  test("both link-Jaccard spellings score the same top-20 edges") {
    val b = graft.queries.GraphQueries.linkJaccard(spark, sf).collect()
    val h = graft.queries.GraphQueries
      .linkJaccard(spark, sf, 20, broadcastAdj = false).collect()
    assert(b.map(_.toSeq).toSeq == h.map(_.toSeq).toSeq,
      "broadcast and partitioned link-Jaccard disagree")
  }

  test("rank-based stats plan no single-partition window over growing inputs") {
    // a window with NO partition columns prints its spec with an
    // ordering as the FIRST argument: windowspecdefinition(x ASC ...).
    // Partitioned (incl. rankedByRange's pid-local rank) leads with
    // plain columns. Count the former.
    def unpart(p: String): Int =
      raw"windowspecdefinition\([^,()]*? (ASC|DESC)".r.findAllMatchIn(p).size
    for ((name, f) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
        "stats_gini_spend" -> (graft.queries.Relational.giniSpend _),
        "stats_histogram_eqdepth" ->
          (graft.queries.Relational.statsHistogramEqdepth _),
        "customer_rfm" -> (graft.queries.Relational.customerRfm _),
        "events_user_entropy" -> (graft.queries.EventQueries.userEntropy _))) {
      val p = planOf(f(spark, sf))
      assert(unpart(p) == 0,
        s"$name regressed to a single-partition window:\n$p")
    }
    // decile_lift's one remaining global window cumulates the 10-row
    // decile grid — bounded, allowed
    assert(unpart(planOf(graft.queries.Relational.decileLift(spark, sf))) <= 1)
    // max_concurrency keeps the day-grid carry window and the 5-row
    // rank after its TakeOrdered cut — both bounded
    val pc = planOf(graft.queries.EventQueries.maxConcurrency(spark, sf))
    assert(unpart(pc) <= 2, s"concurrency grew a new global window:\n$pc")
    assert(pc.contains("TakeOrderedAndProject"),
      s"concurrency lost its distributed top-5 cut:\n$pc")
  }

  test("registry sweep: every unpartitioned window is an allowlisted bounded site") {
    // A Window with an EMPTY partitionSpec funnels its whole input
    // through one partition — the scale-killer class rankedByRange /
    // Theil-Sen / TakeOrdered respells removed. This sweep walks the
    // OPTIMIZED logical plan of every registered query (subqueries
    // included) and pins the surviving global-window sites to a named
    // allowlist whose inputs are calendar- or k-bounded, so a future
    // query can't silently reintroduce one over a growing input.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // query -> why its global window's input cannot grow with SF
    val allowed: Map[String, String] = Map(
      "stats_decile_lift" -> "cumulative sum over the 10-row decile grid",
      "events_max_concurrency" ->
        "carry over the bounded day grid; 5-row post-TakeOrdered rank",
      "embed_threshold_sweep" -> "cumulative count over the 11-row threshold grid",
      "events_gapfill_daily" -> "forward-fill over the calendar day grid",
      "events_reach_curve" -> "cumulative users over the first-touch day grid",
      "events_growth_accounting" -> "one lag over the bounded week grid",
      "events_session_paths" ->
        "top-10 rank over event-type trigram counts (|types|^3-bounded)",
      "pareto_frontier" -> "running min over the distinct p_size grid (~50)",
      "split_balance_chisq" -> "marginals over the split x label cell grid",
      "stats_anova_priority" -> "cumulative term over the 5-row priority grid",
      "stats_levene" -> "three cumulative terms over the 5-row priority grid",
      "stats_kruskal_wallis" -> "cumulative rank term over the 5-row priority grid",
      "stats_tukey_hsd" -> "cumulative MSW term over the 5-row priority grid",
      "stats_bartlett" -> "two cumulative terms over the 5-row priority grid",
      "stats_mood_median" -> "cumulative chi2 term over the 5-row priority grid",
      "stats_bh_adjust" ->
        "rank + tail-running-min windows over the ≤12-row hypothesis battery grid",
      "text_zipf_slope" -> "rank over the top-100 vocabulary cut",
      "ts_runs_test" -> "median rank + sign-flip lag over the day grid",
      "ts_spearman" -> "average ranks over the day grid",
      "survival_km" -> "KM product over the distinct-day risk grid",
      "survival_nelson_aalen" ->
        "risk / cumulative-hazard windows over the distinct-duration grid",
      "survival_logrank" ->
        "two at-risk suffix windows over the distinct-duration grid",
      "survival_hazard_ratio" ->
        "the shared mantelGrid at-risk suffix window over the distinct-duration grid",
      "survival_aalen_johansen" ->
        "risk / KM-micronat / CIF-cumulation windows over the distinct-duration grid",
      "survival_rmst" ->
        "risk / KM-micronat / interval-lag windows over the distinct-duration grid",
      "survival_life_table" ->
        "suffix-risk / micronat-cumulation windows over the 30-day band grid",
      "stats_ks_uniform_weekday" ->
        "CDF windows over the 7-row weekday grid",
      "ts_hurst_rs" ->
        "day-rank window over the calendar day grid (blocks are partitioned)",
      "ts_changepoint_cusum" -> "cumulative stats over the calendar day grid",
      "ts_ljung_box" ->
        "lead windows over the calendar day grid; cumulative Q over the 10-row lag grid",
      "ts_permutation_entropy" ->
        "two lead windows over the calendar day grid",
      "ts_dickey_fuller" -> "one lag window over the calendar day grid",
      "ts_granger_lag1" -> "two lag windows over the calendar day grid",
      // stats_hodges_lehmann's day-grid lag window runs INSIDE its
      // Graft.materialize (the checkpoint truncates the visible plan),
      // so the sweep sees it clean — the bounded-grid argument lives
      // in its scaladoc (the ts_sample_entropy precedent)
      "ts_pettitt" ->
        "rank/row-number/cumsum windows over the calendar day grid; top-1 cut",
      // ts_sample_entropy's two day-grid lead windows run INSIDE its
      // Graft.materialize (the checkpoint truncates the visible plan),
      // so the sweep sees it clean — the bounded-grid argument lives in
      // its scaladoc
      "ts_rolling_median" ->
        "7-row trailing list window over the calendar day grid",
      "ts_stl_anomaly" ->
        "median-rank window over the calendar day grid; 10-row post-TakeOrdered rank",
      "ts_seasonal_strength" ->
        "moving-average/cumulative-moment windows over the calendar day grid",
      "ts_peaks" ->
        "±3-day neighbor max/count over the calendar day grid; top-5 cut",
      "graph_rich_club" ->
        "suffix sums over the distinct-degree histogram grid (≤ max degree rows)",
      // r16 ANN contract audits: the aggregate-recall pin is a global
      // sum over the ≤5-row per-query hit counts (metadata-sized by
      // the fixed query set, never corpus-sized)
      "ann_ivf_topk" -> "total-hits window over the 5-row query grid",
      "ann_pq_topk" -> "total-hits window over the 5-row query grid",
      "ann_ivfpq_topk" -> "total-hits window over the 5-row query grid")
    val hits = scala.collection.mutable.ListBuffer.empty[String]
    // staleness, third direction: an allowlist key that no longer names
    // a registered query protects nothing — the r10 list carried four
    // such dead names (pre-rename spellings) that this check now bans
    for (k <- allowed.keys.toSeq.sorted if !SparkEntry.queries.contains(k))
      hits += s"$k allowlisted but not in the registry (dead name — remove it)"
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val n =
        try fn(spark, sf).queryExecution.optimizedPlan
          .collectWithSubqueries { case w: LWindow if w.partitionSpec.isEmpty => w }
          .size
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      if (n > 0 && !allowed.contains(name)) hits += s"$name ($n global windows)"
      if (n == 0 && allowed.contains(name))
        hits += s"$name allowlisted but clean (stale entry — remove it)"
    }
    assert(hits.isEmpty,
      s"global-window allowlist out of date:\n  ${hits.mkString("\n  ")}")
  }

  test("registry sweep: every SinglePartition exchange feeds a bounded consumer") {
    // The global-window sweep pins logical Windows with empty
    // partitionSpec; this is its sibling for the OTHER driver-funnel
    // class — a physical `Exchange SinglePartition` whose consumer is
    // not structurally bounded. Bounded consumers, allowed everywhere:
    //   - a grand aggregate (empty grouping — 1-row output);
    //   - a limit (GlobalLimit / CollectLimit — k-row output);
    //   - a Window / WindowGroupLimit (the global-window sweep already
    //     pins those to the named bounded-input allowlist — one list
    //     to maintain, not two).
    // Anything else funneling a whole input through one partition
    // mid-plan must be named below with its boundedness argument, so a
    // future query can't hide a single-task stage the window sweep
    // doesn't see (e.g. a repartition(1) or an AllTuples requirement
    // from a custom operator).
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // query -> why its flagged single-partition funnel cannot grow with SF
    val allowed: Map[String, String] = Map.empty
    def bounded(p: SparkPlan): Boolean = p match {
      case a: HashAggregateExec => a.groupingExpressions.isEmpty
      case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
      case a: SortAggregateExec => a.groupingExpressions.isEmpty
      case _: GlobalLimitExec | _: CollectLimitExec => true
      case _: WindowExec | _: WindowGroupLimitExec => true
      case _ => false
    }
    // EnsureRequirements interposes local sorts (and projections can
    // interpose too) between an exchange and the operator that demanded
    // it, and whole-stage codegen wraps stage inputs in InputAdapter /
    // WholeStageCodegenExec shells — walk down carrying the nearest
    // NON-transparent ancestor as the exchange's effective consumer
    def scan(n: SparkPlan, eff: Option[SparkPlan],
             out: scala.collection.mutable.ListBuffer[String]): Unit = {
      n match {
        case ex: ShuffleExchangeExec if ex.outputPartitioning == SinglePartition
            && !eff.exists(bounded) =>
          out += eff.map(_.getClass.getSimpleName).getOrElse("PLAN-ROOT")
        case _ => ()
      }
      val nextEff = n match {
        case _: SortExec | _: ProjectExec | _: InputAdapter |
             _: WholeStageCodegenExec => eff
        case other => Some(other)
      }
      n.children.foreach(scan(_, nextEff, out))
      n.subqueries.foreach(scan(_, None, out))
    }
    // AQE rewrites exchanges at runtime; audit the static plan contract
    // on an isolated session so the conf flip can't race other suites
    val s = isolatedSession
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val hits = scala.collection.mutable.ListBuffer.empty[String]
    for (k <- allowed.keys.toSeq.sorted if !SparkEntry.queries.contains(k))
      hits += s"$k allowlisted but not in the registry (dead name — remove it)"
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val bad = scala.collection.mutable.ListBuffer.empty[String]
      try scan(fn(s, sf).queryExecution.executedPlan, None, bad)
      catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      if (bad.nonEmpty && !allowed.contains(name))
        hits += s"$name funnels into ${bad.distinct.mkString(", ")}"
      if (bad.isEmpty && allowed.contains(name))
        hits += s"$name allowlisted but clean (stale entry — remove it)"
    }
    assert(hits.isEmpty,
      s"single-partition funnel allowlist out of date:\n  ${hits.mkString("\n  ")}")
  }

  test("Theil-Sen median is banded TakeOrdered: no Window node anywhere") {
    // the banded order statistic replaces the old global row_number —
    // the returned plan must be band-filter + TakeOrderedAndProject +
    // max, with NO Window (the single-partition-sort hazard class)
    val p = planOf(graft.queries.TimeSeries.theilSen(spark, sf))
    assert(!p.contains("Window"),
      s"Theil-Sen regressed to a rank window over the slope multiset:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"Theil-Sen lost its distributed top-k order statistic:\n$p")
  }
}
