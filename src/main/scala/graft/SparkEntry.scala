package graft

import java.nio.file.Files
import java.time.LocalDateTime

import graft.ingest.{DolarIngest, RawZone}
import graft.llm.{Multimodal, MinHashDedup, SimHashDedup}
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Driver contract — see SURVEY.md §7.
  *
  * Every record in [[registry]] builds a pure DataFrame transform over
  * the test tables in `sfDir` (no actions except the self-contained
  * dolar e2e demo, which materializes its own fixture micro-table
  * first). Records with an oracle are hash-checked against DuckDB on
  * the same parquet; the rest are rows-only checked and covered by
  * ScalaTest specs instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Deterministic raw-zone fixture shared by the dolar e2e pair AND
    * their DuckDB oracle: the same two payloads (the byte payload from
    * /root/reference/tests/tests.py:83 plus a bad-rows file), staged
    * byte-identically under a FIXED path on every run so the oracle can
    * `read_text` the very files the Spark pipeline ingested. r17
    * graduation: the per-run tmp dir was the only reason the e2e pair
    * was rows-only (adjudicated class 4 through r16).
    */
  private[graft] val E2eFixtureDir: String =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_fixtures", "dolar_e2e", "raw").toString

  private val E2eGoodEpoch = 1704164645L
  private val E2eBadRowsEpoch = 1704164646L

  private[graft] def stageE2eFixture(): String = {
    val _ = RawZone.write(E2eFixtureDir, E2eGoodEpoch,
      """[["1757509256000","3920.12"],["1757509266000","3921.55"]]""")
    // one corrupt row (bad valor), one wrong arity — dropped + counted
    val _ = RawZone.write(E2eFixtureDir, E2eBadRowsEpoch,
      """[["1757509276000","abc"],["1757509286000","3922.77"],["x"]]""")
    // a stale glob-matching file from an older fixture version would
    // silently widen both engines' inputs — drop anything not staged here
    val keep = Set(RawZone.key(E2eGoodEpoch), RawZone.key(E2eBadRowsEpoch))
    val dir = java.nio.file.Paths.get(E2eFixtureDir)
    val listing = Files.list(dir)
    try listing.forEach { p =>
      val n = p.getFileName.toString
      if (RawZone.matchesKey(n) && !keep(n)) { val _ = Files.deleteIfExists(p) }
    } finally listing.close()
    E2eFixtureDir
  }

  /** Self-contained reference-parity demo: staged fixture payloads
    * -> raw zone -> batch ingest (H1-H3 semantics) -> interval query,
    * formatted at the serving edge (F2). Hash-checked since r17 against
    * DuckDB replaying the SAME staged files ([[dolarE2eSql]]).
    */
  private def dolarE2e(s: SparkSession, dir: String): DataFrame = {
    val raw = stageE2eFixture()
    val tmp = Files.createTempDirectory("graft_dolar_e2e")
    val dest = tmp.resolve("dolar").toString
    val _ = DolarIngest.batchToPath(s, raw, dest)
    IntervalQuery.formatted(IntervalQuery.over(s.read.parquet(dest),
      LocalDateTime.parse("2025-09-10T00:00:00"),
      LocalDateTime.parse("2025-09-11T00:00:00")))
  }

  /** STREAMING spelling of [[dolarE2e]] — the reference's one real
    * pipeline (raw zone → event-driven parse/load → interval query)
    * exercised through Structured Streaming in the driver harness, not
    * only in StreamingSpec: file discovery with the `dolar-*.json` glob
    * (A4/A5), `Trigger.AvailableNow` drain (G1), checkpointed
    * exactly-once foreachBatch (G3), per-microbatch atomicity (G5),
    * corrupt-row drop + bad-file fail semantics (H1/H2) — then the same
    * inclusive interval query as the batch twin. Hash-checked since r17
    * ([[dolarE2eSql]] over the staged fixture); StreamingSpec pins the
    * stream/batch output equality and checkpoint-replay exactly-once.
    */
  private def dolarE2eStream(s: SparkSession, dir: String): DataFrame = {
    val raw = stageE2eFixture()
    val tmp = Files.createTempDirectory("graft_dolar_e2e_stream")
    val dest = tmp.resolve("dolar").toString
    DolarIngest.stream(s, raw, dest, tmp.resolve("chk").toString)
      .awaitTermination()
    IntervalQuery.formatted(IntervalQuery.over(s.read.parquet(dest),
      LocalDateTime.parse("2025-09-10T00:00:00"),
      LocalDateTime.parse("2025-09-11T00:00:00")))
  }

  /** G2 in its CONTINUOUS spelling: the same raw-zone stream driven by
    * `Trigger.ProcessingTime` instead of the batch-parity AvailableNow
    * drain — the reference's on-file-arrival mode
    * (/root/reference/lambda/zappa_settings.json:49-57) where the query
    * stays up and each new object lands in a later microbatch. The
    * two-batch choreography is deterministic: file 1 is fully drained
    * (`processAllAvailable`) BEFORE file 2 is written, so the files
    * cannot share a microbatch; StreamingSpec pins exactly two
    * non-empty microbatches and the same output as the batch twin.
    * Rows-only (class 4: the per-run tmp zone exists to exercise the
    * live trigger, and the result duplicates the oracle-checked
    * [[dolarE2eStream]] rows).
    */
  private def dolarE2eStreamPt(s: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_dolar_e2e_pt")
    val raw = tmp.resolve("raw").toString
    val dest = tmp.resolve("dolar").toString
    val _ = RawZone.write(raw, E2eGoodEpoch,
      """[["1757509256000","3920.12"],["1757509266000","3921.55"]]""")
    val q = DolarIngest.stream(s, raw, dest, tmp.resolve("chk").toString,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable() // microbatch 1: file 1 alone
      val _ = RawZone.write(raw, E2eBadRowsEpoch,
        """[["1757509276000","abc"],["1757509286000","3922.77"],["x"]]""")
      q.processAllAvailable() // microbatch 2: file 2, on a later tick
    } finally q.stop()
    IntervalQuery.formatted(IntervalQuery.over(s.read.parquet(dest),
      LocalDateTime.parse("2025-09-10T00:00:00"),
      LocalDateTime.parse("2025-09-11T00:00:00")))
  }

  /** DuckDB twin of the dolar e2e pair: replay the SAME staged raw-zone
    * files ([[stageE2eFixture]] wrote them before the Spark result was
    * dumped; Verify emits this SQL afterwards, so the files exist and
    * are byte-stable when the oracle runs) through DuckDB's JSON
    * functions — glob filter (A5), array-of-arrays parse (A6), per-row
    * arity/convert predicate (B4/H2), second truncation (F1), decimal
    * cast (F3), inclusive interval (B2), sort (C1), format (F2).
    */
  private val dolarE2eSql: String =
    s"""WITH files AS (
       |  SELECT content FROM read_text('$E2eFixtureDir/dolar-*.json')
       |), pairs AS (
       |  SELECT unnest(from_json(content, '["JSON"]')) AS pair FROM files
       |), rows_ AS (
       |  SELECT date_trunc('second',
       |           epoch_ms(TRY_CAST(json_extract_string(pair, '$$[0]') AS BIGINT))) AS ts,
       |         TRY_CAST(json_extract_string(pair, '$$[1]') AS DECIMAL(12,4)) AS v,
       |         json_array_length(pair) AS arity
       |  FROM pairs
       |)
       |SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS fechahora,
       |       CAST(v AS DOUBLE) AS valor
       |FROM rows_
       |WHERE arity = 2 AND ts IS NOT NULL AND v IS NOT NULL
       |  AND ts >= TIMESTAMP '2025-09-10 00:00:00'
       |  AND ts <= TIMESTAMP '2025-09-11 00:00:00'
       |ORDER BY fechahora""".stripMargin

  /** Wire fixture for the oracle-checked reference-parity query: two good
    * pairs, a bad valor, a wrong-arity row, an over-arity row, and one
    * pair outside the queried interval (ts values from
    * /root/reference/tests/tests.py:83's payload epoch family).
    */
  private val ParityWire =
    """[["1757509256000","3920.12"],["1757509266000","3921.55"],""" +
      """["1757509276000","abc"],["3922.77"],["x","y","z"],""" +
      """["1788888888000","4000.00"]]"""

  /** Reference-parity chain (A6/B4/H2 parse -> F1 truncate -> F3 cast ->
    * B2 inclusive interval -> C1 sort -> F2 format), hash-checked
    * against DuckDB running the SAME wire literal through its JSON
    * functions — closes the round-2 gap where the flagship parity path
    * had only a rows-only check (`dolar_e2e_interval` materializes a tmp
    * fixture DuckDB can't see; this variant keeps the payload in the
    * query text so both engines parse identical bytes).
    */
  private def dolarParity(s: SparkSession, dir: String): DataFrame = {
    val raw = s.range(1).select(
      lit("wire-literal").as("file"),
      lit(ParityWire).as("value"))
    val rows = DolarIngest.parse(raw)
      .filter(col("valid"))
      .select(col("fechahora"), col("valor"))
    IntervalQuery.formatted(IntervalQuery.over(rows,
      LocalDateTime.parse("2025-09-10T00:00:00"),
      LocalDateTime.parse("2025-09-11T00:00:00")))
  }

  private val dolarParitySql: String =
    s"""WITH pairs AS (
       |  SELECT unnest(from_json('$ParityWire', '["JSON"]')) AS pair
       |), rows_ AS (
       |  SELECT date_trunc('second',
       |           epoch_ms(TRY_CAST(json_extract_string(pair, '$$[0]') AS BIGINT))) AS ts,
       |         TRY_CAST(json_extract_string(pair, '$$[1]') AS DECIMAL(12,4)) AS v,
       |         json_array_length(pair) AS arity
       |  FROM pairs
       |)
       |SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS fechahora,
       |       CAST(v AS DOUBLE) AS valor
       |FROM rows_
       |WHERE arity = 2 AND ts IS NOT NULL AND v IS NOT NULL
       |  AND ts >= TIMESTAMP '2025-09-10 00:00:00'
       |  AND ts <= TIMESTAMP '2025-09-11 00:00:00'
       |ORDER BY fechahora""".stripMargin

  /** One registered query: its `name` (the bench row key and the Verify
    * dump directory), its DataFrame `build` over the test tables in a
    * scale-factor dir, its `oracle` (equivalent ANSI SQL that DuckDB runs
    * on the same parquet; `None` for a rows-only entry) and how `Bench`
    * warms its generated code before the timed run.
    *
    * ==Why each rows-only entry has no oracle (permanent adjudications)==
    *
    * Every record with `oracle = None` is rows-only BY DESIGN, for one of
    * five reasons, and each is pinned by a named spec instead:
    *
    *  1. '''Sketch registers are engine-specific''' — DataSketches HLL /
    *     ApproxTopK / CMS / count-sketch / t-digest state has no DuckDB
    *     equivalent, so value-level SQL parity is undefined; each is
    *     bounded against its EXACT in-engine dual instead — though as
    *     of r15 the whole class has graduated:
    *     (`agg_approx_distinct`, `customer_rfm_approx`,
    *     `sketch_hll_rollup`, `sketch_hll_intersect` and
    *     `sketch_topk_rollup` all carry structural-oracle audit
    *     registry entries — recomputable exact counts hash-checked
    *     beside error-envelope / KLL-rank / merge-consistency /
    *     top-k-coverage violation counters pinned to 0 — while the
    *     numeric estimates stay the spec-bounded `aggApproxDistinct`
    *     / `customerRfmApprox` / `hllRollup` / `hllIntersect` /
    *     `topkRollup` APIs.)
    *     (`events_value_quantiles_approx`/`events_value_mad_approx`
    *     graduated OUT in r15: their registry entries are now
    *     rank-guarantee audits — the (q±ε)·n window of every sketch
    *     estimate checked against exact ≤/< counts, violation
    *     counters pinned to 0 by the oracle beside recomputable group
    *     sizes/extremes; the per-value estimates stay the
    *     AnalyticsOpsSpec-bounded `valueQuantilesApprox` /
    *     `valueMadApprox` API. `join_size_estimate`
    *     and `sketch_word_freq` graduated in r12: their registry
    *     entries are structural-oracle audits — exact values beside
    *     each sketch's deterministic contract (AMS envelope boolean,
    *     CMS never-undercounts boolean) — so the contracts are
    *     driver-checked; the numeric estimates stay SketchSpec-pinned
    *     via `joinSizeEstimate` / `sketchWordFreq`.)
    *  2. '''Fixed-seed hash families DuckDB cannot replay''' — xxhash64
    *     MinHash permutations / SimHash planes / LSH band hashes aren't
    *     reproducible in portable SQL, but every reported PAIR passes an
    *     exact verify stage, and as of r16 the two PAIR-EMITTING legs
    *     graduated to recall-contract audits (the ANN-audit pattern):
    *     `dedup_minhash_lsh`'s registry entry pins "every exact-Jaccard
    *     ≥ 0.8 pair (DuckDB-recomputed via the oracle-checked
    *     `dedup_ngram_jaccard` SQL) is reported" and "every reported
    *     pair passed exact verify" as zero counters beside the exact
    *     pair count/id checksum, and `embed_neardup_lsh`'s pins the
    *     same contract against brute-force cosine ≥ 0.95 over the
    *     bounded vec_id < 500 universe — the pair LISTS stay the
    *     DedupSpec-pinned `nearDupPairs`/`nearDupLsh` APIs (recall vs
    *     exact, precision, hot-bucket cap, bucket-join plan).
    *     r17 closed the class: `dedup_simhash` graduated to the same
    *     recall contract (every exact-Jaccard ≥ 0.8 pair reported by
    *     the 4-table rotation probe, Hamming-verify leg pinned —
    *     [[graft.llm.SimHashDedup.nearDupPairsAudit]]), and
    *     `embed_semdedup` to a three-way geometric contract
    *     (precision vs the DuckDB-recomputed global shadow set,
    *     witness re-verify, uncapped in-cell min-keep completeness —
    *     [[graft.queries.EmbeddingQueries.semDedupAudit]]); the
    *     fingerprint / per-vector verdict lists stay the
    *     DedupSpec/EmbeddingSpec-pinned APIs.
    *     (Earlier graduations from this class: `dedup_minhash_signatures`
    *     in r15 — the structural signature audit with shingle-total /
    *     dup-text conservation and order-invariance counters;
    *     `dedup_lsh_bucket_audit` in r15 — the per-band conservation
    *     audit with drops pinned to 0, the top-k census staying the
    *     spec-pinned API; `decontaminate_bloom` in r12 — exact columns
    *     + the contract-constant zero-miss column, the fpp bound in
    *     SamplingSpec.)
    *  3. '''Iterative FP state (k-means / eigen / greedy)''' — the
    *     class FULLY GRADUATED in r16, two different ways.
    *     `embed_mmr_topk` got a FULL value oracle: its greedy chain is
    *     sequential but k and poolN are query constants, so the DuckDB
    *     twin UNROLLS the k argmax steps into single-row CTEs over the
    *     same bit-exact cosines — the whole (rank, id, relevance,
    *     score) chain hash-matches. The other five are structural
    *     audits (the CDC pattern): `ann_ivf_topk`/`ann_pq_topk`/
    *     `ann_ivfpq_topk` pin per-query size/recall-floor/rank-order
    *     violations to 0 beside the DuckDB-recomputed exact-leg
    *     (count, k-th cosine, id checksum), `embed_pca_explained` pins
    *     orthonormality/eigen-order/explained-bounds plus the
    *     from-the-data variance recompute of every eigenvalue, and
    *     `embed_pca_project` pins Bessel contraction + score centering
    *     per label beside nano-grid-exact Σ‖x‖². The ranked neighbor
    *     lists, eigenvalues and projections stay the
    *     EmbeddingSpec-pinned `annIvfTopK`/`annPqTopK`/`annIvfPqTopK`/
    *     `pcaExplained`/`pcaProject` APIs (recall ≥ 0.75 at BOTH gate
    *     SFs, orthonormality, variance-vs-eigenvalue agreement).
    *  4. '''Engine introspection / local fixtures''' — `compaction_plan`
    *     reads Spark's physical file listing (no DuckDB analogue;
    *     CompactionSpec bins are exact). The dolar e2e pair GRADUATED
    *     in r17: `dolar_e2e_interval`/`dolar_e2e_stream` now stage
    *     their raw-zone fixture at a deterministic path
    *     ([[stageE2eFixture]]) and are hash-checked against DuckDB
    *     `read_text`-ing the SAME files ([[dolarE2eSql]]) — the
    *     reference's one real pipeline is oracle-checked end to end.
    *     Still class 4: `dolar_e2e_stream_pt`, the
    *     Trigger.ProcessingTime spelling — its per-run tmp zone exists
    *     to exercise the LIVE trigger choreography (two real
    *     microbatches), and its rows duplicate the oracle-checked
    *     stream twin; StreamingSpec pins the two-batch drain.
    *  5. '''Algorithm-internal artifacts''' — `text_bpe_train` emits
    *     the merge table of an iterative trainer (AnalyticsOpsSpec:
    *     independent merge-round induction; the scorable step
    *     `text_bpe_merge` IS oracle-checked, and `text_bpe_encode`
    *     graduated in r17 to a round-trip/conservation contract —
    *     corpus vocabulary and character mass recomputed by DuckDB
    *     beside full-outer-join round-trip and residual-merge-pair
    *     violation counters pinned to 0
    *     ([[graft.queries.TextQueries.bpeEncodeAudit]]); the token
    *     histogram stays the AnalyticsOpsSpec-pinned `bpeEncode` API);
    *     `multimodal_decode_stub`/`multimodal_frame_sample` run the
    *     codec seam over opaque binary (MultimodalSpec planted
    *     fixtures; the CDC chunk family graduated to structural
    *     oracles — `multimodal_cdc_chunks` pins conservation/tiling/
    *     bounds, `multimodal_cdc_pairs` pins planted-twin completeness,
    *     while [[graft.llm.Multimodal.cdcChunkStats]] /
    *     [[graft.llm.Multimodal.cdcSharedPairs]] stay the numeric API,
    *     MultimodalSpec-pinned; `text_compression_ratio` graduated the
    *     same way in r15 — its registry entry is the per-source deflate
    *     audit: char totals recomputed by DuckDB beside length-
    *     conservation / stored-block-bound / self-concat-subadditivity
    *     violation counters pinned to 0, while
    *     [[graft.queries.TextQueries.compressionRatio]] stays the
    *     per-doc API, CompressionSpec-pinned).
    */
  final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    warm: Warm = Warm.Cold)

  /** How `Bench` warms a query's generated code before its timed run.
    * Warm-up results are discarded; only compiled classes survive.
    */
  sealed trait Warm
  object Warm {
    /** No own warm-up: the generic scan+agg+sort warm-up is enough. */
    case object Cold extends Warm
    /** Run once at sf0.001. These rows' generated code is
      * data-independent (HLL, codebook-literal and regex codegen), so
      * the tiny run compiles and JIT-warms the classes the timed run
      * uses; cold, each paid 2.6-6.3 s of in-window JIT (r12).
      */
    case object SmallSf extends Warm
    /** Run once at the timed SF. The graph Pregel family's generated
      * code depends on AQE's join choices, which differ across SFs, so
      * sf0.001 classes never transfer (r17 A/B); one same-SF run leaves
      * the timed run compiling zero new classes, walls down 30-45 %
      * (r18 janino counts: pagerank 4.1 -> 1.7 s).
      */
    case object TimedSf extends Warm
  }

  /** One record per implemented operator from SURVEY.md §2. */
  lazy val registry: Seq[Query] = Seq(
    // reference parity
    Query("dolar_e2e_interval", dolarE2e, Some(dolarE2eSql)),
    Query("dolar_e2e_stream", dolarE2eStream, Some(dolarE2eSql)),
    Query("dolar_e2e_stream_pt", dolarE2eStreamPt, None),
    Query("dolar_parity", dolarParity, Some(dolarParitySql)),
    Query("interval_events", EventQueries.intervalEvents,
      Some(EventQueries.intervalEventsSql)),
    // relational: aggregation
    Query("q1_pricing_summary", Relational.q1PricingSummary,
      Some(Relational.q1PricingSummarySql)),
    Query("agg_orders_by_priority", Relational.aggOrdersByPriority,
      Some(Relational.aggOrdersByPrioritySql)),
    Query("agg_cube", Relational.aggCube, Some(Relational.aggCubeSql)),
    Query("agg_rollup", Relational.aggRollup, Some(Relational.aggRollupSql)),
    Query("agg_count_distinct", Relational.aggCountDistinct,
      Some(Relational.aggCountDistinctSql)),
    Query("agg_approx_distinct", Relational.aggApproxDistinctAudit,
      Some(Relational.aggApproxDistinctAuditSql), Warm.SmallSf),
    Query("agg_minmax_by_brand", Relational.aggMinMaxByBrand,
      Some(Relational.aggMinMaxByBrandSql)),
    Query("agg_mode_by_brand", Relational.modeByBrand, Some(Relational.modeByBrandSql)),
    Query("agg_geomean_by_brand", Relational.geomeanByBrand,
      Some(Relational.geomeanByBrandSql)),
    Query("agg_skew_kurtosis", Relational.skewKurtosisByBrand,
      Some(Relational.skewKurtosisByBrandSql)),
    Query("stats_quantiles_exact", Relational.quantilesExact,
      Some(Relational.quantilesExactSql)),
    Query("seq_gap_islands", (s, d) => Relational.eventIdIslands(s, d),
      Some(Relational.eventIdIslandsSql)),
    Query("agg_grouping_sets", Relational.aggGroupingSets,
      Some(Relational.aggGroupingSetsSql)),
    Query("agg_median_price", Relational.aggMedianPrice,
      Some(Relational.aggMedianPriceSql)),
    Query("agg_nations_by_region", Relational.aggNationsByRegion,
      Some(Relational.aggNationsByRegionSql)),
    Query("pivot_status_counts", Relational.pivotStatusCounts,
      Some(Relational.pivotStatusCountsSql)),
    // relational: joins
    Query("q3_top_revenue", Relational.q3TopRevenue, Some(Relational.q3TopRevenueSql)),
    Query("q5_local_supplier", Relational.q5LocalSupplier,
      Some(Relational.q5LocalSupplierSql)),
    Query("q7_volume_shipping", Relational.q7VolumeShipping,
      Some(Relational.q7VolumeShippingSql)),
    Query("q8_market_share", Relational.q8MarketShare, Some(Relational.q8MarketShareSql)),
    Query("q10_returned_items", Relational.q10ReturnedItems,
      Some(Relational.q10ReturnedItemsSql)),
    Query("q14_promo_revenue", Relational.q14PromoRevenue,
      Some(Relational.q14PromoRevenueSql)),
    Query("q18_large_orders", Relational.q18LargeOrders,
      Some(Relational.q18LargeOrdersSql)),
    // TPC-H completion: the other 14 classic shapes (TpchShapes)
    Query("q2_min_cost_supplier", TpchShapes.q2MinCostSupplier,
      Some(TpchShapes.q2MinCostSupplierSql)),
    Query("q4_order_priority", TpchShapes.q4OrderPriority,
      Some(TpchShapes.q4OrderPrioritySql)),
    Query("q6_forecast_revenue", TpchShapes.q6ForecastRevenue,
      Some(TpchShapes.q6ForecastRevenueSql)),
    Query("q9_product_profit", TpchShapes.q9ProductProfit,
      Some(TpchShapes.q9ProductProfitSql)),
    Query("q11_important_stock", TpchShapes.q11ImportantStock,
      Some(TpchShapes.q11ImportantStockSql)),
    Query("q12_ship_priority", TpchShapes.q12ShipPriority,
      Some(TpchShapes.q12ShipPrioritySql)),
    Query("q13_cust_order_dist", TpchShapes.q13CustOrderDist,
      Some(TpchShapes.q13CustOrderDistSql)),
    Query("q15_top_supplier", TpchShapes.q15TopSupplier,
      Some(TpchShapes.q15TopSupplierSql)),
    Query("q16_part_supplier_cnt", TpchShapes.q16PartSupplierCnt,
      Some(TpchShapes.q16PartSupplierCntSql)),
    Query("q17_small_qty_revenue", TpchShapes.q17SmallQtyRevenue,
      Some(TpchShapes.q17SmallQtyRevenueSql)),
    Query("q19_disjunctive_revenue", TpchShapes.q19DisjunctiveRevenue,
      Some(TpchShapes.q19DisjunctiveRevenueSql)),
    Query("q20_excess_suppliers", TpchShapes.q20ExcessSuppliers,
      Some(TpchShapes.q20ExcessSuppliersSql)),
    Query("q21_waiting_supplier", TpchShapes.q21WaitingSupplier,
      Some(TpchShapes.q21WaitingSupplierSql)),
    Query("q22_sales_opportunity", TpchShapes.q22SalesOpportunity,
      Some(TpchShapes.q22SalesOpportunitySql)),
    Query("join_broadcast_dim", Relational.joinBroadcastDim,
      Some(Relational.joinBroadcastDimSql)),
    Query("join_left_outer", Relational.joinLeftOuter, Some(Relational.joinLeftOuterSql)),
    Query("join_semi", Relational.joinSemi, Some(Relational.joinSemiSql)),
    Query("join_anti", Relational.joinAnti, Some(Relational.joinAntiSql)),
    Query("bucketed_join", graft.plans.Bucketing.bucketedJoinDemo,
      Some(graft.plans.Bucketing.bucketedJoinDemoSql)),
    Query("join_skew_salted", graft.plans.SkewJoin.skewJoinDemo,
      Some(graft.plans.SkewJoin.skewJoinDemoSql)),
    Query("zorder_layout", graft.plans.ZOrder.zorderLayout,
      Some(graft.plans.ZOrder.zorderLayoutSql)),
    // relational: windows / set ops / sort-limit / scan
    Query("window_rank_orders", Relational.windowRankOrders,
      Some(Relational.windowRankOrdersSql)),
    Query("setop_union", Relational.setopUnion, Some(Relational.setopUnionSql)),
    Query("setop_intersect", Relational.setopIntersect,
      Some(Relational.setopIntersectSql)),
    Query("setop_except", Relational.setopExcept, Some(Relational.setopExceptSql)),
    Query("topk_orders", Relational.topkOrders, Some(Relational.topkOrdersSql)),
    Query("scan_filter_project", Relational.scanFilterProject,
      Some(Relational.scanFilterProjectSql)),
    Query("subquery_exists", Relational.subqueryExists,
      Some(Relational.subqueryExistsSql)),
    Query("subquery_not_exists", Relational.subqueryNotExists,
      Some(Relational.subqueryNotExistsSql)),
    Query("subquery_scalar_avg", Relational.subqueryScalarAvg,
      Some(Relational.subqueryScalarAvgSql)),
    Query("subquery_in", Relational.subqueryIn, Some(Relational.subqueryInSql)),
    Query("subquery_not_in", Relational.subqueryNotIn, Some(Relational.subqueryNotInSql)),
    Query("join_full_outer", Relational.joinFullOuter, Some(Relational.joinFullOuterSql)),
    Query("join_fuzzy_name", Relational.joinFuzzyName, Some(Relational.joinFuzzyNameSql)),
    Query("dedup_typo_pairs", Relational.typoPairs, Some(Relational.typoPairsSql)),
    Query("window_distribution", Relational.windowDistribution,
      Some(Relational.windowDistributionSql)),
    Query("agg_monthly_revenue", Relational.aggMonthlyRevenue,
      Some(Relational.aggMonthlyRevenueSql)),
    Query("profile_columns", Relational.profileColumns,
      Some(Relational.profileColumnsSql)),
    Query("integrity_checksum", Relational.integrityChecksum,
      Some(Relational.integrityChecksumSql)),
    Query("order_cycle_time", Relational.orderCycleTime,
      Some(Relational.orderCycleTimeSql)),
    Query("ivm_refresh", Relational.ivmRefresh, Some(Relational.ivmRefreshSql)),
    Query("stats_histogram", Relational.statsHistogram,
      Some(Relational.statsHistogramSql)),
    Query("attribution_last_touch", EventQueries.attributionLastTouch,
      Some(EventQueries.attributionLastTouchSql)),
    Query("sketch_quantile_rollup", EventQueries.quantileRollup,
      Some(EventQueries.quantileRollupSql)),
    Query("funnel_stages", EventQueries.funnelStages, Some(EventQueries.funnelStagesSql)),
    Query("snapshot_diff", Relational.snapshotDiff, Some(Relational.snapshotDiffSql)),
    Query("join_explosion_check", EventQueries.joinExplosionCheck,
      Some(EventQueries.joinExplosionCheckSql)),
    Query("stats_correlation", Relational.statsCorrelation,
      Some(Relational.statsCorrelationSql)),
    Query("embed_quant_error", EmbeddingQueries.quantErrorReport,
      Some(EmbeddingQueries.quantErrorReportSql)),
    Query("mixture_temperature_alloc", Sampling.mixtureTemperatureAlloc,
      Some(Sampling.mixtureTemperatureAllocSql)),
    Query("sample_reservoir_per_key", (s, d) => Sampling.reservoirPerKey(s, d),
      Some(Sampling.reservoirPerKeySql)),
    Query("compaction_plan", (s, d) => graft.plans.Compaction.compactionPlan(s, d), None),
    Query("agg_string_concat", Relational.aggStringConcat,
      Some(Relational.aggStringConcatSql)),
    Query("string_funcs", Relational.stringFuncs,
      Some(Relational.stringFuncsSql), Warm.SmallSf),
    // time series / streaming duals
    Query("window_tumbling_hourly", EventQueries.tumblingHourly,
      Some(EventQueries.tumblingHourlySql)),
    Query("window_moving_avg", EventQueries.movingAvg, Some(EventQueries.movingAvgSql)),
    Query("window_range_hour", EventQueries.rangeLastHour,
      Some(EventQueries.rangeLastHourSql)),
    Query("window_lag_delta", EventQueries.lagDelta, Some(EventQueries.lagDeltaSql)),
    Query("sessionize_events", EventQueries.sessionize, Some(EventQueries.sessionizeSql)),
    Query("asof_purchase", EventQueries.asofPurchase, Some(EventQueries.asofPurchaseSql)),
    Query("asof_next_purchase", EventQueries.asofNextPurchase,
      Some(EventQueries.asofNextPurchaseSql)),
    Query("asof_nearest", EventQueries.asofNearest, Some(EventQueries.asofNearestSql)),
    Query("range_join_nearby", (s, d) => EventQueries.rangeJoinNearby(s, d),
      Some(EventQueries.rangeJoinNearbySql)),
    Query("range_join_overlap", EventQueries.rangeJoinOverlap,
      Some(EventQueries.rangeJoinOverlapSql)),
    Query("events_gapfill_daily", EventQueries.gapfillDaily,
      Some(EventQueries.gapfillDailySql)),
    Query("events_funnel", EventQueries.funnel, Some(EventQueries.funnelSql)),
    Query("events_dau_wau", EventQueries.dauWau, Some(EventQueries.dauWauSql)),
    Query("events_value_quantiles", EventQueries.valueQuantiles,
      Some(EventQueries.valueQuantilesSql)),
    Query("events_json_props", EventQueries.jsonProps, Some(EventQueries.jsonPropsSql)),
    Query("scd2_history", EventQueries.scd2History, Some(EventQueries.scd2HistorySql)),
    Query("events_retention_cohorts", EventQueries.retentionCohorts,
      Some(EventQueries.retentionCohortsSql)),
    Query("events_anomaly_zscore", EventQueries.anomalyZscore,
      Some(EventQueries.anomalyZscoreSql)),
    Query("cdc_latest_state", EventQueries.cdcLatestState,
      Some(EventQueries.cdcLatestStateSql)),
    Query("window_session_native", EventQueries.sessionWindowNative,
      Some(EventQueries.sessionWindowNativeSql)),
    Query("events_value_quantiles_approx",
      (s, d) => EventQueries.valueQuantilesApproxAudit(s, d),
      Some(EventQueries.valueQuantilesApproxAuditSql)),
    Query("events_quantile_rank_audit", EventQueries.quantileRankAudit,
      Some(EventQueries.quantileRankAuditSql)),
    Query("events_markov_stationary", (s, d) => EventQueries.markovStationary(s, d),
      Some(EventQueries.markovStationarySql())),
    Query("events_markov_attribution", (s, d) => EventQueries.markovAttribution(s, d),
      Some(EventQueries.markovAttributionSql())),
    Query("attribution_position", (s, d) => EventQueries.attributionPosition(s, d),
      Some(EventQueries.attributionPositionSql())),
    Query("events_growth_accounting", EventQueries.growthAccounting,
      Some(EventQueries.growthAccountingSql)),
    Query("events_markov_transitions", EventQueries.markovTransitions,
      Some(EventQueries.markovTransitionsSql)),
    Query("events_markov_entropy", EventQueries.markovEntropyRate,
      Some(EventQueries.markovEntropyRateSql)),
    Query("events_time_weighted_avg", EventQueries.timeWeightedAvg,
      Some(EventQueries.timeWeightedAvgSql)),
    Query("events_activity_streaks", EventQueries.activityStreaks,
      Some(EventQueries.activityStreaksSql)),
    Query("typed_group_stats", EventQueries.typedGroupStats,
      Some(EventQueries.typedGroupStatsSql)),
    Query("text_hash_features", TextQueries.hashFeatures,
      Some(TextQueries.hashFeaturesSql)),
    Query("text_importance_dsir", (s, d) => TextQueries.importanceDsir(s, d),
      Some(TextQueries.importanceDsirSql)),
    Query("text_compression_ratio", TextQueries.compressionAudit,
      Some(TextQueries.compressionAuditSql)),
    Query("text_repeated_passages", TextQueries.repeatedPassages,
      Some(TextQueries.repeatedPassagesSql)),
    Query("agg_regr_slope", Relational.aggRegrSlope, Some(Relational.aggRegrSlopeSql)),
    Query("agg_yoy_growth", Relational.aggYoyGrowth, Some(Relational.aggYoyGrowthSql)),
    Query("customer_rfm", Relational.customerRfm, Some(Relational.customerRfmSql)),
    Query("customer_rfm_approx", Relational.customerRfmApproxAudit,
      Some(Relational.customerRfmApproxAuditSql)),
    Query("merge_upsert", EventQueries.mergeUpsert, Some(EventQueries.mergeUpsertSql)),
    // graph analytics
    Query("graph_pagerank", GraphQueries.pagerank,
      Some(GraphQueries.pagerankSql), Warm.TimedSf),
    Query("graph_ppr_walks", (s, d) => GraphQueries.pprWalks(s, d),
      Some(GraphQueries.pprWalksSql), Warm.TimedSf),
    Query("graph_copurchase", GraphQueries.copurchasePairs,
      Some(GraphQueries.copurchasePairsSql)),
    Query("graph_triangles", (s, d) => GraphQueries.triangleCount(s, d),
      Some(GraphQueries.triangleCountSql)),
    // the beyond-broadcast spelling: same joins, hash-partitioned —
    // same oracle, so the driver proves count equality between modes
    Query("graph_triangles_partitioned",
      (s, d) => GraphQueries.triangleCount(s, d, broadcastAdj = false),
      Some(GraphQueries.triangleCountSql)),
    Query("graph_khop_reach", (s, d) => GraphQueries.khopReach(s, d),
      Some(GraphQueries.khopReachSql), Warm.TimedSf),
    Query("graph_closeness_sampled", (s, d) => GraphQueries.closenessSampled(s, d),
      Some(GraphQueries.closenessSampledSql), Warm.TimedSf),
    Query("graph_sssp", (s, d) => GraphQueries.ssspBounded(s, d),
      Some(GraphQueries.ssspBoundedSql), Warm.TimedSf),
    Query("graph_assortativity", GraphQueries.assortativity,
      Some(GraphQueries.assortativitySql)),
    Query("graph_avg_neighbor_degree", GraphQueries.avgNeighborDegree,
      Some(GraphQueries.avgNeighborDegreeSql)),
    Query("ts_hurst_rs", TimeSeries.hurstRs, Some(TimeSeries.hurstRsSql)),
    Query("graph_label_propagation", (s, d) => GraphQueries.labelPropagation(s, d),
      Some(GraphQueries.labelPropagationSql), Warm.TimedSf),
    Query("stats_gini_spend", Relational.giniSpend, Some(Relational.giniSpendSql)),
    Query("stats_theil_nation", Relational.theilNation, Some(Relational.theilNationSql)),
    Query("stats_atkinson_mld", Relational.atkinsonMld, Some(Relational.atkinsonMldSql)),
    Query("docs_pielou_evenness", TextQueries.pielouEvenness,
      Some(TextQueries.pielouEvennessSql)),
    Query("docs_readability", TextQueries.readability, Some(TextQueries.readabilitySql)),
    Query("docs_source_jsd", (s, d) => TextQueries.sourceJsd(s, d),
      Some(TextQueries.sourceJsdSql())),
    Query("docs_length_histogram", TextQueries.lengthHistogram,
      Some(TextQueries.lengthHistogramSql)),
    Query("events_hill_tail_index", (s, d) => EventQueries.hillTailIndex(s, d),
      Some(EventQueries.hillTailIndexSql())),
    Query("events_interarrival", EventQueries.interArrival,
      Some(EventQueries.interArrivalSql)),
    Query("events_hourly_profile", EventQueries.hourlyProfile,
      Some(EventQueries.hourlyProfileSql)),
    Query("events_poisson_rate", EventQueries.poissonRateTest,
      Some(EventQueries.poissonRateTestSql)),
    Query("stats_benford", Governance.benford, Some(Governance.benfordSql)),
    Query("stats_jarque_bera", Relational.jarqueBera, Some(Relational.jarqueBeraSql)),
    Query("stats_chi2_independence", Relational.chi2Cells, Some(Relational.chi2CellsSql)),
    Query("stats_cramers_v", Relational.cramersV, Some(Relational.cramersVSql)),
    Query("stats_g_test", Relational.gTest, Some(Relational.gTestSql)),
    Query("stats_trimmed_mean", (s, d) => Relational.trimmedMean(s, d),
      Some(Relational.trimmedMeanSql())),
    Query("stats_sign_test", Relational.signTest, Some(Relational.signTestSql)),
    Query("stats_bowker_symmetry", Relational.bowkerSymmetry,
      Some(Relational.bowkerSymmetrySql)),
    Query("stats_bh_adjust", MultipleTesting.bhAdjust, Some(MultipleTesting.bhAdjustSql)),
    Query("graph_reciprocity", Relational.reciprocity, Some(Relational.reciprocitySql)),
    Query("text_ngram_novelty", TextQueries.ngramNovelty,
      Some(TextQueries.ngramNoveltySql)),
    Query("text_zipf_slope", (s, d) => TextQueries.zipfSlope(s, d),
      Some(TextQueries.zipfSlopeSql)),
    // time series
    Query("ts_seasonal_decompose", TimeSeries.seasonalDecompose,
      Some(TimeSeries.seasonalDecomposeSql)),
    Query("ts_changepoint_cusum", TimeSeries.cusumChangepoint,
      Some(TimeSeries.cusumChangepointSql)),
    Query("ts_peaks", (s, d) => TimeSeries.peaks(s, d), Some(TimeSeries.peaksSql)),
    Query("ts_autocorrelation", TimeSeries.autocorrelation,
      Some(TimeSeries.autocorrelationSql)),
    Query("ts_ljung_box", (s, d) => TimeSeries.ljungBox(s, d),
      Some(TimeSeries.ljungBoxSql)),
    Query("ts_pacf", TimeSeries.pacf, Some(TimeSeries.pacfSql)),
    Query("ts_cross_correlation", TimeSeries.crossCorrelation,
      Some(TimeSeries.crossCorrelationSql)),
    Query("ts_granger_lag1", TimeSeries.grangerLag1, Some(TimeSeries.grangerLag1Sql)),
    Query("ts_permutation_entropy", TimeSeries.permutationEntropy,
      Some(TimeSeries.permutationEntropySql)),
    Query("ts_sample_entropy", TimeSeries.sampleEntropy,
      Some(TimeSeries.sampleEntropySql)),
    Query("ts_dickey_fuller", TimeSeries.dickeyFuller, Some(TimeSeries.dickeyFullerSql)),
    Query("ts_pettitt", TimeSeries.pettitt, Some(TimeSeries.pettittSql)),
    Query("ts_ewma", (s, d) => TimeSeries.ewma(s, d), Some(TimeSeries.ewmaSql())),
    Query("ts_holt_linear", (s, d) => TimeSeries.holtLinear(s, d),
      Some(TimeSeries.holtLinearSql())),
    Query("ts_rolling_median", TimeSeries.rollingMedian,
      Some(TimeSeries.rollingMedianSql)),
    Query("ts_forecast_backtest", (s, d) => TimeSeries.forecastBacktest(s, d),
      Some(TimeSeries.forecastBacktestSql())),
    Query("ts_stl_anomaly", (s, d) => TimeSeries.stlAnomaly(s, d),
      Some(TimeSeries.stlAnomalySql())),
    Query("stats_dispersion_index", TimeSeries.dispersionIndex,
      Some(TimeSeries.dispersionIndexSql)),
    Query("drift_qq_deciles", Drift.qqDeciles, Some(Drift.qqDecilesSql)),
    Query("ab_conversion_ztest", (s, d) => Drift.abConversion(s, d),
      Some(Drift.abConversionSql())),
    Query("ab_cuped_revenue", Drift.abCuped, Some(Drift.abCupedSql)),
    Query("ab_permutation_test", (s, d) => Drift.abPermutationTest(s, d),
      Some(Drift.abPermutationTestSql())),
    Query("ab_power_mde", (s, d) => Drift.abPowerMde(s, d), Some(Drift.abPowerMdeSql())),
    Query("ab_srm_check", Drift.abSrmCheck, Some(Drift.abSrmCheckSql)),
    Query("ab_delta_ratio_ci", Drift.abDeltaRatio, Some(Drift.abDeltaRatioSql)),
    Query("eval_brier_score", Evaluation.brierScore, Some(Evaluation.brierScoreSql)),
    Query("eval_score_agreement", Evaluation.scoreAgreement,
      Some(Evaluation.scoreAgreementSql)),
    Query("stats_hodges_lehmann", TimeSeries.hodgesLehmann,
      Some(TimeSeries.hodgesLehmannSql)),
    Query("stats_page_trend", Drift.pageTrend, Some(Drift.pageTrendSql)),
    Query("events_wilson_ci", EventQueries.wilsonCi, Some(EventQueries.wilsonCiSql)),
    Query("drift_cvm", Drift.cvm, Some(Drift.cvmSql)),
    Query("stats_ansari_bradley", Drift.ansariBradley, Some(Drift.ansariBradleySql)),
    Query("ts_holt_winters", (s, d) => TimeSeries.holtWinters(s, d),
      Some(TimeSeries.holtWintersSql())),
    Query("events_rfm_migration", EventQueries.rfmMigration,
      Some(EventQueries.rfmMigrationSql)),
    Query("drift_effect_size", Drift.effectSize, Some(Drift.effectSizeSql)),
    Query("pii_reid_risk", (s, d) => Governance.reidRisk(s, d),
      Some(Governance.reidRiskSql())),
    Query("eval_pr_threshold_sweep", Evaluation.prThresholdSweep,
      Some(Evaluation.prThresholdSweepSql)),
    Query("ts_seasonal_strength", TimeSeries.seasonalStrength,
      Some(TimeSeries.seasonalStrengthSql)),
    Query("stats_power_law_alpha", EventQueries.powerLawAlpha,
      Some(EventQueries.powerLawAlphaSql)),
    Query("ts_theil_sen", TimeSeries.theilSen, Some(TimeSeries.theilSenSql)),
    Query("survival_km", Survival.kaplanMeier, Some(Survival.kaplanMeierSql)),
    Query("survival_nelson_aalen", Survival.nelsonAalen, Some(Survival.nelsonAalenSql)),
    Query("survival_aalen_johansen", (s, d) => Survival.aalenJohansen(s, d),
      Some(Survival.aalenJohansenSql())),
    Query("survival_logrank", Survival.logRank, Some(Survival.logRankSql)),
    Query("survival_rmst", (s, d) => Survival.rmst(s, d), Some(Survival.rmstSql())),
    Query("survival_life_table", (s, d) => Survival.lifeTable(s, d),
      Some(Survival.lifeTableSql())),
    Query("survival_hazard_ratio", Survival.hazardRatio, Some(Survival.hazardRatioSql)),
    Query("stats_ks_uniform_weekday", Relational.ksUniformWeekday,
      Some(Relational.ksUniformWeekdaySql)),
    Query("stats_decile_lift", Relational.decileLift, Some(Relational.decileLiftSql)),
    Query("events_max_concurrency", EventQueries.maxConcurrency,
      Some(EventQueries.maxConcurrencySql)),
    Query("cohort_ltv", Relational.cohortLtv, Some(Relational.cohortLtvSql)),
    Query("basket_rules", (s, d) => GraphQueries.basketRules(s, d),
      Some(GraphQueries.basketRulesSql)),
    Query("events_session_paths", EventQueries.sessionPaths,
      Some(EventQueries.sessionPathsSql)),
    Query("drift_welch_ttest", Drift.welchTTest, Some(Drift.welchTTestSql)),
    Query("events_reach_curve", EventQueries.reachCurve,
      Some(EventQueries.reachCurveSql)),
    Query("stats_histogram_eqdepth", Relational.statsHistogramEqdepth,
      Some(Relational.statsHistogramEqdepthSql)),
    Query("embed_outliers", (s, d) => EmbeddingQueries.outliersByLabel(s, d),
      Some(EmbeddingQueries.outliersByLabelSql)),
    Query("stats_anova_priority", Relational.anovaPriority,
      Some(Relational.anovaPrioritySql)),
    Query("stats_levene", Relational.levenePriority, Some(Relational.levenePrioritySql)),
    Query("stats_mcnemar", Relational.mcnemarYears, Some(Relational.mcnemarYearsSql)),
    Query("stats_wilcoxon_signed", Drift.wilcoxonSignedRank,
      Some(Drift.wilcoxonSignedRankSql)),
    Query("stats_friedman", Drift.friedman, Some(Drift.friedmanSql)),
    Query("stats_cochran_armitage", Relational.cochranArmitage,
      Some(Relational.cochranArmitageSql)),
    Query("stats_kruskal_wallis", Relational.kruskalWallis,
      Some(Relational.kruskalWallisSql)),
    Query("stats_dunn_pairs", Relational.dunnPairs, Some(Relational.dunnPairsSql)),
    Query("stats_tukey_hsd", Relational.tukeyHsd, Some(Relational.tukeyHsdSql)),
    Query("stats_bartlett", Relational.bartlett, Some(Relational.bartlettSql)),
    Query("stats_mood_median", Relational.moodMedian, Some(Relational.moodMedianSql)),
    Query("eval_roc_auc", Evaluation.rocAuc, Some(Evaluation.rocAucSql)),
    Query("eval_average_precision", Evaluation.averagePrecision,
      Some(Evaluation.averagePrecisionSql)),
    Query("eval_calibration", Evaluation.calibration, Some(Evaluation.calibrationSql)),
    Query("eval_self_retrieval_mrr", (s, d) => Evaluation.selfRetrievalMrr(s, d),
      Some(Evaluation.selfRetrievalMrrSql())),
    Query("eval_ndcg", (s, d) => Evaluation.ndcg(s, d), Some(Evaluation.ndcgSql())),
    Query("text_jsd_langs", (s, d) => TextQueries.jsdLangs(s, d),
      Some(TextQueries.jsdLangsSql)),
    Query("docs_simpson_diversity", TextQueries.simpsonDiversity,
      Some(TextQueries.simpsonDiversitySql)),
    Query("docs_hapax_share", TextQueries.hapaxShare, Some(TextQueries.hapaxShareSql)),
    Query("docs_yule_k", TextQueries.yuleK, Some(TextQueries.yuleKSql)),
    Query("docs_mattr", (s, d) => TextQueries.mattr(s, d), Some(TextQueries.mattrSql())),
    Query("text_gopher_repetition", TextQueries.gopherRepetition,
      Some(TextQueries.gopherRepetitionSql)),
    Query("text_good_turing", (s, d) => TextQueries.goodTuring(s, d),
      Some(TextQueries.goodTuringSql())),
    Query("text_word_burstiness", (s, d) => TextQueries.wordBurstiness(s, d),
      Some(TextQueries.wordBurstinessSql())),
    Query("text_langid_prf", TextQueries.langIdPrf, Some(TextQueries.langIdPrfSql)),
    Query("stats_cohens_kappa", TextQueries.cohensKappa,
      Some(TextQueries.cohensKappaSql)),
    Query("docs_heaps_law", (s, d) => TextQueries.heapsLaw(s, d),
      Some(TextQueries.heapsLawSql())),
    Query("events_burstiness", EventQueries.burstiness, Some(EventQueries.burstinessSql)),
    Query("ts_mann_kendall", TimeSeries.mannKendall, Some(TimeSeries.mannKendallSql)),
    Query("ts_seasonal_mann_kendall", TimeSeries.seasonalMannKendall,
      Some(TimeSeries.seasonalMannKendallSql)),
    Query("events_unattributed", EventQueries.unattributedPurchases,
      Some(EventQueries.unattributedPurchasesSql)),
    Query("graph_kcore", (s, d) => GraphQueries.kcorePeel(s, d),
      Some(GraphQueries.kcorePeelSql), Warm.TimedSf),
    Query("stats_hhi_nation", Relational.hhiNation, Some(Relational.hhiNationSql)),
    Query("events_user_entropy", EventQueries.userEntropy,
      Some(EventQueries.userEntropySql)),
    Query("stats_mutual_info", EventQueries.mutualInfo, Some(EventQueries.mutualInfoSql)),
    Query("sample_poisson_bootstrap", (s, d) => Sampling.poissonBootstrap(s, d),
      Some(Sampling.poissonBootstrapSql)),
    Query("text_doc_keywords", (s, d) => TextQueries.docKeywords(s, d),
      Some(TextQueries.docKeywordsSql)),
    Query("ts_runs_test", TimeSeries.runsTest, Some(TimeSeries.runsTestSql)),
    Query("ts_spearman", TimeSeries.spearmanDaily, Some(TimeSeries.spearmanDailySql)),
    Query("ts_kendall_tau", TimeSeries.kendallTau, Some(TimeSeries.kendallTauSql)),
    Query("ts_turning_points", TimeSeries.turningPoints,
      Some(TimeSeries.turningPointsSql)),
    Query("ts_variance_ratio", (s, d) => TimeSeries.varianceRatio(s, d),
      Some(TimeSeries.varianceRatioSql())),
    Query("graph_clustering_coeff", GraphQueries.clusteringCoeff,
      Some(GraphQueries.clusteringCoeffSql)),
    Query("graph_link_jaccard", (s, d) => GraphQueries.linkJaccard(s, d),
      Some(GraphQueries.linkJaccardSql)),
    // beyond-broadcast twin: adjacency consumed via shuffled hash
    // joins — same oracle, so the driver proves mode equality
    Query("graph_link_jaccard_partitioned",
      (s, d) => GraphQueries.linkJaccard(s, d, 20, broadcastAdj = false),
      Some(GraphQueries.linkJaccardSql)),
    Query("graph_resource_alloc", (s, d) => GraphQueries.resourceAlloc(s, d),
      Some(GraphQueries.resourceAllocSql)),
    Query("graph_resource_alloc_partitioned",
      (s, d) => GraphQueries.resourceAlloc(s, d, 20, broadcastAdj = false),
      Some(GraphQueries.resourceAllocSql)),
    Query("graph_adamic_adar", (s, d) => GraphQueries.adamicAdar(s, d),
      Some(GraphQueries.adamicAdarSql)),
    Query("graph_adamic_adar_partitioned",
      (s, d) => GraphQueries.adamicAdar(s, d, 20, broadcastAdj = false),
      Some(GraphQueries.adamicAdarSql)),
    Query("graph_common_neighbors", (s, d) => GraphQueries.commonNeighbors(s, d),
      Some(GraphQueries.commonNeighborsSql)),
    Query("graph_pref_attachment", (s, d) => GraphQueries.prefAttachment(s, d),
      Some(GraphQueries.prefAttachmentSql)),
    Query("graph_katz_walks", (s, d) => GraphQueries.katzWalks(s, d),
      Some(GraphQueries.katzWalksSql)),
    Query("graph_degree_histogram", GraphQueries.degreeHistogram,
      Some(GraphQueries.degreeHistogramSql)),
    Query("graph_rich_club", GraphQueries.richClub, Some(GraphQueries.richClubSql)),
    Query("graph_local_bridges", (s, d) => GraphQueries.localBridges(s, d),
      Some(GraphQueries.localBridgesSql)),
    Query("graph_hits_walks", (s, d) => GraphQueries.hitsWalks(s, d),
      Some(GraphQueries.hitsWalksSql)),
    Query("dedup_containment", (s, d) => TextQueries.dedupContainment(s, d),
      Some(TextQueries.dedupContainmentSql)),
    Query("drift_mann_whitney", Drift.mannWhitney, Some(Drift.mannWhitneySql)),
    Query("events_funnel_within", (s, d) => EventQueries.funnelWithin(s, d),
      Some(EventQueries.funnelWithinSql)),
    Query("unpivot_metrics", Relational.unpivotMetrics,
      Some(Relational.unpivotMetricsSql)),
    Query("stats_weighted_median", Relational.weightedMedian,
      Some(Relational.weightedMedianSql)),
    Query("governance_delete_impact", Governance.deleteImpact,
      Some(Governance.deleteImpactSql)),
    Query("text_vocab_coverage", (s, d) => TextQueries.vocabCoverage(s, d),
      Some(TextQueries.vocabCoverageSql)),
    // dataset governance
    Query("dq_expectations", Governance.dqExpectations,
      Some(Governance.dqExpectationsSql)),
    Query("pii_k_anonymity", (s, d) => Governance.kAnonymity(s, d),
      Some(Governance.kAnonymitySql)),
    Query("pii_l_diversity", (s, d) => Governance.lDiversity(s, d),
      Some(Governance.lDiversitySql())),
    Query("pii_t_closeness", (s, d) => Governance.tCloseness(s, d),
      Some(Governance.tClosenessSql())),
    Query("split_leakage_audit", Governance.splitLeakageAudit,
      Some(Governance.splitLeakageAuditSql)),
    Query("pareto_frontier", Governance.paretoFrontier,
      Some(Governance.paretoFrontierSql)),
    Query("winsorize_stats", Governance.winsorizeStats,
      Some(Governance.winsorizeStatsSql)),
    Query("split_balance_chisq", Governance.splitBalanceChisq,
      Some(Governance.splitBalanceChisqSql)),
    Query("embed_hard_negatives", (s, d) => EmbeddingQueries.hardNegatives(s, d),
      Some(EmbeddingQueries.hardNegativesSql)),
    Query("join_size_estimate", EventQueries.joinSizeEstimateAudit,
      Some(EventQueries.joinSizeEstimateAuditSql)),
    Query("drift_psi", (s, d) => Drift.psi(s, d), Some(Drift.psiSql)),
    Query("drift_ks", Drift.ks, Some(Drift.ksSql)),
    Query("graph_modularity", GraphQueries.modularity, Some(GraphQueries.modularitySql)),
    Query("attribution_time_decay", EventQueries.attributionTimeDecay,
      Some(EventQueries.attributionTimeDecaySql)),
    Query("dq_functional_deps", Governance.functionalDeps,
      Some(Governance.functionalDepsSql)),
    Query("pii_dp_release", Governance.dpRelease, Some(Governance.dpReleaseSql)),
    Query("corpus_datacard", Governance.datacard, Some(Governance.datacardSql)),
    // text analysis
    Query("text_token_count", TextQueries.tokenCount, Some(TextQueries.tokenCountSql)),
    Query("text_token_bpeish", TextQueries.tokenCountBpe,
      Some(TextQueries.tokenCountBpeSql)),
    Query("text_tokenizer_fertility", TextQueries.tokenizerFertility,
      Some(TextQueries.tokenizerFertilitySql)),
    Query("text_ngram_diversity", TextQueries.ngramDiversity,
      Some(TextQueries.ngramDiversitySql)),
    Query("text_winnow_fp", TextQueries.winnowFingerprint,
      Some(TextQueries.winnowFingerprintSql)),
    Query("text_stats_by_lang", TextQueries.statsByLang,
      Some(TextQueries.statsByLangSql)),
    Query("text_quality_score", TextQueries.qualityScore,
      Some(TextQueries.qualityScoreSql)),
    Query("text_quality_funnel", TextQueries.qualityFunnel,
      Some(TextQueries.qualityFunnelSql)),
    Query("text_char_entropy", TextQueries.charEntropy, Some(TextQueries.charEntropySql)),
    Query("text_bigram_entropy_rate", TextQueries.bigramEntropyRate,
      Some(TextQueries.bigramEntropyRateSql)),
    Query("text_vocab_overlap", (s, d) => TextQueries.vocabOverlap(s, d),
      Some(TextQueries.vocabOverlapSql())),
    Query("docs_length_ks_pairs", TextQueries.lengthKsPairs,
      Some(TextQueries.lengthKsPairsSql)),
    Query("text_lang_guess", TextQueries.langGuessConfusion,
      Some(TextQueries.langGuessConfusionSql)),
    Query("text_fingerprint", TextQueries.fingerprint, Some(TextQueries.fingerprintSql)),
    Query("text_scrub_pii", TextQueries.scrubPii, Some(TextQueries.scrubPiiSql)),
    Query("text_repetition", TextQueries.repetitionStats,
      Some(TextQueries.repetitionStatsSql)),
    Query("text_top_terms", TextQueries.topTermsByDf, Some(TextQueries.topTermsByDfSql)),
    Query("text_regex_extract", TextQueries.regexExtract,
      Some(TextQueries.regexExtractSql)),
    Query("text_first_positions", TextQueries.firstPositions,
      Some(TextQueries.firstPositionsSql)),
    Query("dedup_incremental", TextQueries.dedupIncremental,
      Some(TextQueries.dedupIncrementalSql)),
    Query("text_bigrams", TextQueries.bigrams, Some(TextQueries.bigramsSql)),
    Query("text_bigram_pmi", (s, d) => TextQueries.bigramPmi(s, d),
      Some(TextQueries.bigramPmiSql())),
    Query("text_trigram_lm", TextQueries.trigramLm, Some(TextQueries.trigramLmSql)),
    Query("docs_source_concentration", TextQueries.sourceConcentration,
      Some(TextQueries.sourceConcentrationSql)),
    Query("text_normalize", TextQueries.normalizeText,
      Some(TextQueries.normalizeTextSql)),
    Query("docs_chunk_sliding", TextQueries.chunkSliding,
      Some(TextQueries.chunkSlidingSql)),
    Query("text_bm25_terms", TextQueries.bm25TopTerms, Some(TextQueries.bm25TopTermsSql)),
    Query("index_inverted", TextQueries.invertedIndex,
      Some(TextQueries.invertedIndexSql)),
    Query("sketch_word_freq", TextQueries.sketchWordFreqAudit,
      Some(TextQueries.sketchWordFreqAuditSql)),
    Query("curation_pipeline", TextQueries.curationPipeline,
      Some(TextQueries.curationPipelineSql)),
    Query("text_bpe_merge", TextQueries.bpeMergeStep, Some(TextQueries.bpeMergeStepSql)),
    Query("text_bpe_train", (s, d) => TextQueries.bpeTrain(s, d), None),
    Query("text_bpe_encode", (s, d) => TextQueries.bpeEncodeAudit(s, d),
      Some(TextQueries.bpeEncodeAuditSql)),
    Query("text_perplexity", TextQueries.perplexity, Some(TextQueries.perplexitySql)),
    Query("text_ccnet_buckets", TextQueries.ccnetBuckets,
      Some(TextQueries.ccnetBucketsSql)),
    Query("text_tfidf_terms", TextQueries.tfidfTerms, Some(TextQueries.tfidfTermsSql)),
    Query("events_value_mad", EventQueries.valueMad, Some(EventQueries.valueMadSql)),
    Query("events_value_mad_approx", (s, d) => EventQueries.valueMadApproxAudit(s, d),
      Some(EventQueries.valueMadApproxAuditSql)),
    Query("sketch_hll_rollup", EventQueries.hllRollupAudit,
      Some(EventQueries.hllRollupAuditSql)),
    Query("sketch_hll_intersect", EventQueries.hllIntersectAudit,
      Some(EventQueries.hllIntersectAuditSql)),
    Query("sketch_topk_rollup", (s, d) => EventQueries.topkRollupAudit(s, d),
      Some(EventQueries.topkRollupAuditSql)),
    // dataset management: deterministic splits / samples / skew diagnosis
    Query("sample_hash_split", Sampling.hashSplit, Some(Sampling.hashSplitSql)),
    Query("sample_stratified", Sampling.stratifiedSample,
      Some(Sampling.stratifiedSampleSql)),
    Query("sample_systematic", Sampling.systematicSample,
      Some(Sampling.systematicSampleSql)),
    Query("sample_weighted", (s, d) => Sampling.weightedSample(s, d),
      Some(Sampling.weightedSampleSql)),
    Query("sample_neyman_allocation", (s, d) => Sampling.neymanAllocation(s, d),
      Some(Sampling.neymanAllocationSql)),
    Query("events_skew_histogram", Sampling.skewHistogram,
      Some(Sampling.skewHistogramSql)),
    Query("decontaminate_ngram", Sampling.decontaminate, Some(Sampling.decontaminateSql)),
    Query("decontaminate_bloom", Sampling.decontaminateBloomAudit,
      Some(Sampling.decontaminateBloomAuditSql), Warm.SmallSf),
    Query("pack_chunks", (s, d) => Sampling.packChunks(s, d),
      Some(Sampling.packChunksSql)),
    Query("mixture_downsample", Sampling.mixtureDownsample,
      Some(Sampling.mixtureDownsampleSql)),
    // dedup
    Query("dedup_exact", TextQueries.dedupExact, Some(TextQueries.dedupExactSql)),
    Query("dedup_exact_paragraph", (s, d) => TextQueries.dedupExactParagraph(s, d),
      Some(TextQueries.dedupExactParagraphSql())),
    Query("dedup_paragraph_top", (s, d) => TextQueries.dedupParagraphTop(s, d),
      Some(TextQueries.dedupParagraphTopSql())),
    Query("dedup_paragraph_savings", (s, d) => TextQueries.dedupParagraphSavings(s, d),
      Some(TextQueries.dedupParagraphSavingsSql())),
    Query("dedup_exact_substring", (s, d) => TextQueries.exactSubstringDedup(s, d),
      Some(TextQueries.exactSubstringDedupSql), Warm.SmallSf),
    Query("dedup_cluster_sizes", TextQueries.dedupClusterSizes,
      Some(TextQueries.dedupClusterSizesSql)),
    Query("dedup_ngram_jaccard", (s, d) => TextQueries.dedupNgramJaccard(s, d),
      Some(TextQueries.dedupNgramJaccardSql)),
    Query("dedup_prefix_jaccard", (s, d) => TextQueries.dedupPrefixJaccard(s, d),
      Some(TextQueries.dedupPrefixJaccardSql)),
    Query("dedup_components", graft.llm.DedupClusters.dedupComponents,
      Some(graft.llm.DedupClusters.dedupComponentsSql)),
    Query("dedup_keep_best", graft.llm.DedupClusters.dedupKeepBest,
      Some(graft.llm.DedupClusters.dedupKeepBestSql)),
    Query("dedup_minhash_lsh", (s, d) => MinHashDedup.nearDupPairsAudit(s, d),
      Some(graft.llm.MinHashDedup.nearDupPairsAuditSql)),
    Query("dedup_lsh_bucket_audit", (s, d) => MinHashDedup.bucketConservationAudit(s, d),
      Some(MinHashDedup.bucketConservationAuditSql)),
    Query("dedup_minhash_signatures", MinHashDedup.signatureAudit,
      Some(MinHashDedup.signatureAuditSql)),
    Query("dedup_simhash", (s, d) => SimHashDedup.nearDupPairsAudit(s, d),
      Some(graft.llm.SimHashDedup.nearDupPairsAuditSql)),
    // similarity search
    Query("ann_topk_cosine", EmbeddingQueries.annTopK, Some(EmbeddingQueries.annTopKSql)),
    Query("embed_intrinsic_dim", (s, d) => EmbeddingQueries.intrinsicDim(s, d),
      Some(EmbeddingQueries.intrinsicDimSql())),
    Query("ann_topk_cosine_i8", (s, d) => EmbeddingQueries.annTopKI8(s, d),
      Some(EmbeddingQueries.annTopKI8Sql)),
    Query("ann_ivf_topk", (s, d) => EmbeddingQueries.annIvfAudit(s, d),
      Some(EmbeddingQueries.annAuditSql), Warm.SmallSf),
    Query("ann_pq_topk", (s, d) => EmbeddingQueries.annPqAudit(s, d),
      Some(EmbeddingQueries.annAuditSql)),
    Query("ann_ivfpq_topk", (s, d) => EmbeddingQueries.annIvfPqAudit(s, d),
      Some(EmbeddingQueries.annAuditSql), Warm.SmallSf),
    Query("embed_neardup_lsh", (s, d) => EmbeddingQueries.nearDupLshAudit(s, d),
      Some(EmbeddingQueries.nearDupLshAuditSql)),
    Query("embed_knn_graph", (s, d) => EmbeddingQueries.knnGraph(s, d),
      Some(EmbeddingQueries.knnGraphSql)),
    Query("embed_mmr_topk", (s, d) => EmbeddingQueries.mmrTopK(s, d),
      Some(EmbeddingQueries.mmrTopKSql)),
    Query("embed_semdedup", (s, d) => EmbeddingQueries.semDedupAudit(s, d),
      Some(EmbeddingQueries.semDedupAuditSql)),
    Query("embed_centroid_by_label", EmbeddingQueries.centroidByLabel,
      Some(EmbeddingQueries.centroidByLabelSql)),
    Query("embed_silhouette", EmbeddingQueries.silhouette,
      Some(EmbeddingQueries.silhouetteSql)),
    Query("embed_norm_quantiles", EmbeddingQueries.normQuantilesByLabel,
      Some(EmbeddingQueries.normQuantilesByLabelSql)),
    Query("embed_dim_ablation", EmbeddingQueries.dimAblation,
      Some(EmbeddingQueries.dimAblationSql)),
    Query("embed_threshold_sweep", EmbeddingQueries.thresholdSweep,
      Some(EmbeddingQueries.thresholdSweepSql)),
    Query("embed_pca_project", (s, d) => EmbeddingQueries.pcaProjectAudit(s, d),
      Some(EmbeddingQueries.pcaProjectAuditSql)),
    Query("embed_pca_explained", (s, d) => EmbeddingQueries.pcaExplainedAudit(s, d),
      Some(EmbeddingQueries.pcaExplainedAuditSql())),
    // multimodal
    Query("multimodal_meta", Multimodal.mediaMeta, Some(Multimodal.mediaMetaSql)),
    Query("multimodal_dedup", Multimodal.mediaDedup, Some(Multimodal.mediaDedupSql)),
    Query("multimodal_cdc_chunks", (s, d) => Multimodal.cdcChunkAudit(s, d),
      Some(Multimodal.cdcChunkAuditSql)),
    Query("multimodal_cdc_pairs", (s, d) => Multimodal.cdcPairsAudit(s, d),
      Some(Multimodal.cdcPairsAuditSql())),
    Query("multimodal_decode_stub", Multimodal.decodeFrames, None),
    Query("multimodal_frame_sample", (s, d) => Multimodal.sampleFrames(s, d), None),
  )

  /** [[registry]] by name, for callers that look a query up by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Every oracle in [[registry]], keyed by query name (Verify's
    * `oracle_sql.json`).
    */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
