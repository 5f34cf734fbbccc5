package graft.queries

import graft.{Graft, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph analytics — the web-graph quality signals a crawl-derived
  * training corpus is curated with (PageRank-style centrality over the
  * document link graph; cf. Page et al., "The PageRank Citation
  * Ranking", 1999). The test tables carry no hyperlinks, so the graph
  * here is the customer–supplier trade graph (who transacted with whom,
  * via orders ⨝ lineitem), symmetrized; the algorithm is the standard
  * damped power iteration and transfers to any (src, dst) edge table.
  *
  * Execution shape per iteration: ONE join of the adjacency list with
  * the current rank vector (both hash-partitioned on the join key) +
  * ONE aggregation shuffle on dst — the canonical Pregel-on-dataframes
  * step. The adjacency list is built once and `localCheckpoint`ed: it
  * is the 100 TB-side of the computation and must not be recomputed per
  * iteration, while the rank vector (one row per NODE, orders of
  * magnitude smaller) is the only thing that moves between iterations.
  * Plan growth stays bounded the same way DedupClusters bounds its
  * label-propagation loop.
  *
  * Determinism for the oracle: ranks are FIXED-POINT LONGS in units of
  * 1e-6 ("micro-ranks"), contributions divide by out-degree with
  * INTEGER division, and damping is `150000 + (85·Σ) div 100` — every
  * intermediate is an exact integer, so parity is structural, not
  * probabilistic. (The first spelling decimal-cast the DERIVED double
  * `pr/out_deg` — the Exact.scala hazard — and diverged at sf0.1 where
  * sf0.01 had been green: ~1e-7 rank drift from the engines' different
  * double→decimal roundings. Exact integers close that for good; the
  * ≤1 μrank/edge truncation bias is orders below ranking resolution.)
  * The DuckDB oracle unrolls the same three iterations.
  */
object GraphQueries {

  /** When "true", the two shared edge-table builds ([[tradeEdges]],
    * [[copurchaseEdges]]) are materialized ONCE per (session, dir) and
    * reused by every graph query in that session — what a real
    * pipeline does with its adjacency. Default "false": every query
    * stays fully standalone (the registry contract the oracle gate
    * checks), each paying its own edge build (~2 s at sf0.1). The
    * cache holds the checkpointed frame, so with the conf on the five
    * link/triangle scorers and the iterative families share one basket
    * self-join instead of rebuilding it five times — at 100 TB the
    * difference between one adjacency materialization and N is the
    * dominant cost of the whole graph family.
    *
    * LIFECYCLE LIMITS (why the default is off): entries live until
    * [[clearEdgeCache]] or the owning session's application end (an
    * `onApplicationEnd` listener evicts that session's entries, so a
    * session-churning JVM doesn't pin dead sessions forever) — a JVM
    * that rewrites the data under `dir` mid-session must still clear
    * explicitly (stale reads otherwise), and a cached
    * localCheckpoint has NO lineage to recompute from, so after
    * executor loss the cached entry fails where the uncached path
    * would have rebuilt — on preemptible executors pair the conf with
    * `spark.graft.checkpoint.reliable=true`. The intended consumers
    * are bounded single-shot sessions (Bench, a pipeline run), which
    * is exactly what the opt-in scopes it to.
    */
  val CacheEdgesKey = "spark.graft.graph.cacheEdges"

  /** Memoizing holder: allocation is cheap (safe inside the CHM bin
    * lock); the Spark job runs on first `.value` access OUTSIDE the
    * map, and a concurrent second reader blocks on the holder's own
    * monitor until the one build finishes — so exactly ONE
    * materialization per key, never a discarded loser checkpoint.
    */
  private final class LazyFrame(build: () => DataFrame) {
    lazy val value: DataFrame = build()
  }

  private val edgeCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), LazyFrame]()

  /** Sessions whose application-end eviction hook is installed, so the
    * hook registers once per session (the map itself is the dedup).
    */
  private val evictionHooked = java.util.concurrent.ConcurrentHashMap
    .newKeySet[SparkSession]()

  /** Drop every cached edge frame — required between conf flips, after
    * rewriting a cached `dir`, or when retiring a session in a
    * long-lived JVM (see [[CacheEdgesKey]]'s lifecycle limits).
    */
  def clearEdgeCache(): Unit = edgeCache.clear()

  /** `build` must be the UN-materialized edge plan; the cached path
    * checkpoints it once per key, the uncached path applies
    * `materializeDefault` (copurchaseEdges always materializes — its
    * callers fan out; tradeEdges historically leaves that to callers).
    *
    * Concurrency/lifecycle shape: the materialization (a full Spark
    * job) runs OUTSIDE the map's bin lock — `computeIfAbsent` only
    * allocates a [[LazyFrame]] holder (cheap under the lock); the job
    * runs on first `.value` access, and a racing second builder blocks
    * on the holder's monitor for the one shared build rather than
    * running a redundant checkpoint of its own. Eviction: the first
    * insert for a session installs an `onApplicationEnd` listener that
    * drops that session's entries — note this fires when the shared
    * SparkContext stops, so it is a JVM-lifetime backstop, not
    * per-session cleanup: a long-lived JVM churning `newSession()`
    * clones (which share one context) still pins a retired clone's
    * lineage-free checkpointed frames until the app ends. Such JVMs
    * must call [[clearEdgeCache]] when retiring a session — the same
    * explicit lever used for conf flips / data rewrites while a
    * session is live. (The intended consumers — bounded single-shot
    * sessions owning their context — get full cleanup at stop.)
    */
  private def sharedEdges(s: SparkSession, dir: String, kind: String,
                          materializeDefault: Boolean)
                         (build: => DataFrame): DataFrame = {
    // Deliberately a PLAIN materialize — never Graft.materializeHashed.
    // A hash-DECLARED layout on these shared caches was A/B-measured a
    // net LOSS (r17, kcorePeel/sharedEdges A/B): the fan-out consumers
    // (clustering_coeff, triangles, rich_club...) derive several
    // identical aggregates above the cache, and with their exchanges
    // elided each branch re-scans and re-aggregates independently —
    // the shared Exchange was the reuse/dedup point (1.3 s -> 3.1 s on
    // clustering_coeff with a declared key). Single-consumer-key
    // ITERATIVE tables (pagerank/sssp/labelprop adjacency) declare
    // their layout per query instead, where it deletes a per-iteration
    // exchange and nothing fans out. Re-measure before ever adding a
    // key option back here.
    def mat(df: DataFrame): DataFrame = Graft.materialize(df)
    if (s.conf.get(CacheEdgesKey, "false").toBoolean) {
      val key = (s, dir, kind)
      if (evictionHooked.add(s))
        s.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
              edgeCache.keySet.removeIf(_._1 eq s)
              evictionHooked.remove(s)
            }
          })
      edgeCache.computeIfAbsent(key,
        _ => new LazyFrame(() => mat(build))).value
    }
    else if (materializeDefault) mat(build)
    else build
  }

  /** Three damped (d = 0.85) PageRank iterations from a uniform start
    * over the symmetrized customer–supplier graph; top 20 nodes.
    * Symmetrization guarantees every node has out-edges (no dangling
    * mass) and in-edges (no rank-0.15 orphans) — the bipartite one-way
    * graph would silently drain rank into supplier sinks.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    rankedAll(s, dir).orderBy(col("pr").desc, col("node")).limit(20)

  /** Symmetrized distinct customer–supplier trade edges (src, dst) —
    * the ONE edge-table definition shared by pagerank and
    * [[khopReach]]. Node ids are LONGS: customer c<k> rides as 2k,
    * supplier s<k> as 2k+1 (collision-free, reversible) — an 8-byte
    * key where the first spelling carried a "c<k>"/"s<k>" STRING
    * through every distinct/join/aggregate exchange of the whole
    * family (guide §2.3 "narrower types": long keys halve-or-better
    * the shuffled key bytes and replace UTF8String hashing/compares
    * with single-word ops on the hot paths; at 100 TB the key bytes
    * of the iterate shuffles are the recurring cost). The public
    * string ids are reconstructed ONLY at output boundaries via
    * [[nodeStr]], so every registered query's results are unchanged
    * (the oracle gate re-proves hash equality).
    */
  private[graft] def tradeEdges(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "trade", materializeDefault = false) {
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val cs = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2L).as("src"),
          (col("l_suppkey") * 2L + 1L).as("dst"))
        .distinct()
      cs.unionByName(
        cs.select(col("dst").as("src"), col("src").as("dst")))
    }

  /** Weighted trade-pair fold (src, dst, n_ord) in the [[tradeEdges]]
    * long encoding, UN-symmetrized — [[ssspBounded]]'s edge base,
    * shared through the session cache so the bench's one-family-build
    * posture computes the orders⨝lineitem pair fold once instead of
    * sssp re-running its own copy of the scan+join (~1.5 s of sssp's
    * wall, r17 verdict item 8). Deliberately a SEPARATE kind from
    * "trade": tradeEdges' unweighted build needs only a (c,sk)
    * distinct — one exchange — while this fold needs the ok-level
    * distinct plus a count; deriving the 12 unweighted consumers from
    * this fold would charge them that second exchange whenever the
    * cache is off (standalone `graft.Bench` runs, tools/scalecheck.sh).
    */
  private[graft] def tradePairCounts(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "tradew", materializeDefault = false) {
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"),
          col("o_orderkey").as("ok"))
        .distinct()
        .groupBy(col("c"), col("sk"))
        .agg(count(lit(1)).as("n_ord"))
        .select((col("c") * 2L).as("src"),
          (col("sk") * 2L + 1L).as("dst"), col("n_ord"))
    }

  /** The family's adjacency-consumption discipline in one place: a
    * node-keyed table joins broadcast when `broadcastAdj` (the default
    * of every builder that takes it), SHUFFLE_HASH otherwise (see
    * [[triangleCount]]'s and [[linkJaccard]]'s scale notes) — so a
    * change to the gating applies to every builder in lockstep.
    */
  private def adjSide(broadcastAdj: Boolean): DataFrame => DataFrame =
    if (broadcastAdj) broadcast else _.hint("shuffle_hash")

  /** Decode a [[tradeEdges]] long node id back to the public
    * "c<custkey>" / "s<suppkey>" string — applied at output boundaries
    * only (top-k projections, community labels), never on a shuffle
    * key.
    */
  private[graft] def nodeStr(c: Column): Column =
    when(c % 2L === 0L, concat(lit("c"), shiftright(c, 1).cast("string")))
      .otherwise(concat(lit("s"), shiftright(c - 1L, 1).cast("string")))

  /** Full rank vector after three iterations (one row per node) —
    * pagerank's unlimited form, used by AnalyticsOpsSpec's
    * mass-conservation invariant.
    */
  def rankedAll(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    // Materialized adjacency: (src, dst, out_deg), computed exactly once
    // and checkpointed ALREADY HASH-PARTITIONED ON src — LogicalRDD
    // preserves outputPartitioning, so every iteration's join on src
    // reuses it and only the node-sized rank vector is exchanged
    // (without the repartition, each iteration re-shuffles the full
    // edge list; with it, the per-iteration exchanges are rank-vector
    // sized + the one unavoidable fan-in aggregation on dst).
    // Durability trade: localCheckpoint stores the adjacency in
    // NON-REPLICATED executor storage — on a real cluster a lost
    // executor forces a recompute of the edge build (acceptable for a
    // 3-iteration job); set spark.graft.checkpoint.reliable=true (+ a
    // checkpoint dir) and Graft.materialize switches every such site
    // to reliable `.checkpoint()` when iterations are many or
    // executors preemptible.
    val adj = Graft.materializeHashed(edges.join(deg, "src"), "src")

    // initial ranks FROM THE CHECKPOINT (deriving them from `deg`
    // would silently recompute the whole scan→join→distinct edge
    // build a second time — visible as a duplicated parquet subtree
    // in the physical plan)
    var ranks = adj.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("pr_u"))
    for (_ <- 1 to 3) {
      ranks = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst"), expr("pr_u div out_deg").as("c"))
        .groupBy(col("dst"))
        .agg((lit(150000L) + expr("(85 * sum(c)) div 100")).as("pr_u"))
        .select(col("dst").as("node"), col("pr_u"))
    }
    ranks.select(nodeStr(col("node")).as("node"),
      (col("pr_u").cast("double") / 1e6).as("pr"))
  }

  // --- co-occurrence edges (market-basket) ------------------------------
  /** Top co-purchased part pairs with lift — co-occurrence graph
    * construction, the other standard edge-derivation (besides
    * hyperlinks) a corpus pipeline runs: the same shape builds
    * term-cooccurrence edges from documents or item-item edges for
    * recommendation.
    *
    * Execution shape: the pair generation is a SELF-JOIN ON THE BASKET
    * KEY (l_orderkey) — each basket pairs only within itself, so the
    * join is one hash exchange and the output is sum(basket_size²), not
    * n². That bound is also the scale hazard: a single degenerate
    * mega-basket goes quadratic, so at 100 TB the guard is a basket-size
    * cap (here: baskets are TPC-H orders, max ~7 items — asserted cheap)
    * or salting the hot basket. Lift's scalar total-order count rides in
    * via a 1-row broadcast; counts are integers and lift is one IEEE
    * division — deterministic cross-engine.
    */
  def copurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nOrders = items.select(countDistinct(col("ok")).as("n_orders"))
    val freq = items.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("n_together"))
    // the part-frequency table is part-sized (2e5·SF rows): broadcast,
    // like nOrders' 1-row total
    pairs
      .join(broadcast(freq.withColumnRenamed("pk", "part_a")
        .withColumnRenamed("n_part", "n_a")), "part_a")
      .join(broadcast(freq.withColumnRenamed("pk", "part_b")
        .withColumnRenamed("n_part", "n_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_together"),
        ((col("n_together").cast("double") * col("n_orders").cast("double"))
          / (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("n_together").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val copurchasePairsSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
      |freq AS (SELECT pk, COUNT(*) AS n_part FROM items GROUP BY pk),
      |pairs AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_together
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk)
      |SELECT part_a, part_b, n_together,
      |  (CAST(n_together AS DOUBLE) * CAST(n_orders AS DOUBLE))
      |    / (CAST(fa.n_part AS DOUBLE) * CAST(fb.n_part AS DOUBLE)) AS lift
      |FROM pairs
      |JOIN freq fa ON fa.pk = part_a
      |JOIN freq fb ON fb.pk = part_b
      |CROSS JOIN n
      |ORDER BY n_together DESC, part_a, part_b LIMIT 20""".stripMargin

  // --- association rules ------------------------------------------------------
  /** Directed market-basket association rules a→b over co-ordered
    * parts: support, confidence, and lift per rule (Agrawal & Srikant,
    * VLDB 1994), ranked by confidence. Extends [[copurchasePairs]]'s
    * symmetric lift top-k with the two things a rules miner adds: the
    * MIN-SUPPORT prune applied BEFORE any ranking (the Apriori
    * discipline — candidate volume is cut at the cheapest point, which
    * is what keeps the pair lattice tractable at scale), and
    * directionality (conf(a→b) = n(a,b)/n(a) ≠ conf(b→a)).
    *
    * All three metrics are IEEE divisions of exact BIGINT counts; ties
    * break on (part_a, part_b) so the top-20 cut is deterministic.
    * Scale shape matches copurchase: the pair join is keyed on
    * orderkey (never a cartesian), frequencies and the order count are
    * broadcasts, and the final cut is a bounded top-k.
    */
  def basketRules(s: SparkSession, dir: String,
                  minSupport: Long = 3): DataFrame = {
    // the part-frequency table grows with the catalog (2e5·SF rows):
    // broadcast here like nOrders' 1-row total. A catalog past the
    // broadcast threshold would need these joins SHUFFLE_HASH-hinted,
    // as the triangle family's `broadcastAdj = false` spelling does.
    val items = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nOrders = items.select(countDistinct(col("ok")).as("n_orders"))
    val freq = items.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val undirected = items.as("a")
      .join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("x"), col("b.pk").as("y"))
      .agg(count(lit(1)).as("n_together"))
      .filter(col("n_together") >= minSupport)
    val directed = undirected.select(col("x").as("part_a"),
        col("y").as("part_b"), col("n_together"))
      .unionByName(undirected.select(col("y").as("part_a"),
        col("x").as("part_b"), col("n_together")))
    directed
      .join(broadcast(freq.withColumnRenamed("pk", "part_a")
        .withColumnRenamed("n_part", "n_a")), "part_a")
      .join(broadcast(freq.withColumnRenamed("pk", "part_b")
        .withColumnRenamed("n_part", "n_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_together"),
        (col("n_together").cast("double") / col("n_orders").cast("double"))
          .as("support"),
        (col("n_together").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_together").cast("double") * col("n_orders").cast("double"))
          / (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("confidence").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val basketRulesSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
      |freq AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_part
      |         FROM items GROUP BY pk),
      |und AS (
      |  SELECT a.pk AS x, b.pk AS y, CAST(COUNT(*) AS BIGINT) AS n_together
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY a.pk, b.pk
      |  HAVING COUNT(*) >= 3),
      |dir AS (
      |  SELECT x AS part_a, y AS part_b, n_together FROM und
      |  UNION ALL
      |  SELECT y, x, n_together FROM und)
      |SELECT part_a, part_b, n_together,
      |  CAST(n_together AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
      |  CAST(n_together AS DOUBLE) / CAST(fa.n_part AS DOUBLE) AS confidence,
      |  (CAST(n_together AS DOUBLE) * CAST(n_orders AS DOUBLE))
      |    / (CAST(fa.n_part AS DOUBLE) * CAST(fb.n_part AS DOUBLE)) AS lift
      |FROM dir
      |JOIN freq fa ON fa.pk = part_a
      |JOIN freq fb ON fb.pk = part_b
      |CROSS JOIN n
      |ORDER BY confidence DESC, part_a, part_b LIMIT 20""".stripMargin

  val pagerankSql: String = {
    val step = PortableSql.intDiv(
      s"85 * SUM(${PortableSql.intDiv("r.pr_u", "a.out_deg")})", "100")
    s"""WITH cs AS (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM cs
      |          UNION ALL SELECT dst AS src, src AS dst FROM cs),
      |deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
      |adj AS (SELECT e.src, e.dst, d.out_deg
      |        FROM edges e JOIN deg d ON e.src = d.src),
      |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr_u FROM deg),
      |r1 AS (SELECT a.dst AS node, 150000 + $step AS pr_u
      |       FROM adj a JOIN r0 r ON a.src = r.node GROUP BY a.dst),
      |r2 AS (SELECT a.dst AS node, 150000 + $step AS pr_u
      |       FROM adj a JOIN r1 r ON a.src = r.node GROUP BY a.dst),
      |r3 AS (SELECT a.dst AS node, 150000 + $step AS pr_u
      |       FROM adj a JOIN r2 r ON a.src = r.node GROUP BY a.dst)
      |SELECT node, CAST(pr_u AS DOUBLE) / 1e6 AS pr
      |FROM r3 ORDER BY pr_u DESC, node LIMIT 20""".stripMargin
  }

  // --- personalized PageRank ----------------------------------------------
  /** Three damped iterations of PERSONALIZED PageRank from a fixed
    * 3-supplier seed set over the symmetrized trade graph (Page et al.
    * 1999 §6 "personalized" teleport; Jeh & Widom, WWW 2003): the
    * restart mass returns to the SEEDS, not to every node, so the
    * stationary mass measures proximity to the seed set — the "expand
    * this supplier cohort" / related-entity query, vs [[pagerank]]'s
    * global centrality. Seeds s1–s3 exist at every SF (supplier keys
    * are 1-based and dense).
    *
    * Determinism: the same fixed-point micro-integer discipline as
    * [[rankedAll]] — mass in units of 1e-6 (seed start 1 000 000 div 3
    * = 333 333 each; per-iteration teleport 15% of that = 49 999), all
    * spreading via exact integer `div`, so ranks are bit-identical
    * BIGINTs on both engines and the double is one final cast.
    *
    * Scale shape: the adjacency is built once, checkpointed
    * hash-partitioned on src (each iteration exchanges only the rank
    * vector); the PPR-specific property is SPARSITY — `pr_u > 0`
    * prunes the spread to nodes already reached, so iteration t works
    * on the t-hop neighborhood of the seeds, not the full graph (the
    * locality that makes PPR the scalable personalization primitive;
    * on a 100 TB graph the vector stays seed-neighborhood-sized while
    * global pagerank's is node-sized). Final read is a distributed
    * TakeOrdered(20).
    */
  def pprWalks(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val seeds = Seq(3L, 5L, 7L) // s1/s2/s3 in the 2k+1 long encoding
    val restartU = 1000000L / seeds.length            // 333333
    val teleportU = 15L * restartU / 100L             // 49999
    val edges = tradeEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val adj = Graft.materializeHashed(edges.join(deg, "src"), "src")
    // node list is consumed once per iteration (the left join that
    // re-adds teleport mass) — materialize so the distinct doesn't
    // re-run over the adjacency four times; hash-declared on node so
    // the per-iteration left join reuses the layout instead of
    // re-exchanging the vector every round
    val nodes = Graft.materializeHashed(
      adj.select(col("src").as("node")).distinct(), "node")
    val isSeed = col("node").isin(seeds: _*)
    var ranks = nodes.select(col("node"),
      when(isSeed, lit(restartU)).otherwise(lit(0L)).as("pr_u"))
    for (_ <- 1 to 3) {
      val spread = adj.join(ranks, adj("src") === ranks("node"))
        .filter(col("pr_u") > 0)
        .select(col("dst"), expr("pr_u div out_deg").as("c"))
        .groupBy(col("dst"))
        .agg(expr("(85 * sum(c)) div 100").as("walk_u"))
        .select(col("dst").as("node"), col("walk_u"))
      ranks = nodes.join(spread, Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("walk_u"), lit(0L)) +
            when(isSeed, lit(teleportU)).otherwise(lit(0L))).as("pr_u"))
    }
    ranks.filter(col("pr_u") > 0)
      .select(nodeStr(col("node")).as("node"),
        (col("pr_u").cast("double") / 1e6).as("ppr"))
      .orderBy(col("ppr").desc, col("node"))
      .limit(k)
  }

  val pprWalksSql: String = {
    val seedsIn = "('s1','s2','s3')"
    val step = PortableSql.intDiv(
      s"85 * SUM(${PortableSql.intDiv("r.pr_u", "a.out_deg")})", "100")
    def hop(prev: String, cur: String): String =
      s"""w$cur AS (SELECT a.dst AS node, $step AS walk_u
         |       FROM adj a JOIN r$prev r ON a.src = r.node
         |       WHERE r.pr_u > 0 GROUP BY a.dst),
         |r$cur AS (SELECT n.node,
         |         COALESCE(w.walk_u, 0)
         |           + CASE WHEN n.node IN $seedsIn THEN 49999 ELSE 0 END
         |           AS pr_u
         |       FROM nodes n LEFT JOIN w$cur w ON w.node = n.node)"""
        .stripMargin
    s"""WITH cs AS (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM cs
      |          UNION ALL SELECT dst AS src, src AS dst FROM cs),
      |deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
      |adj AS (SELECT e.src, e.dst, d.out_deg
      |        FROM edges e JOIN deg d ON e.src = d.src),
      |nodes AS (SELECT src AS node FROM deg),
      |r0 AS (SELECT node,
      |         CASE WHEN node IN $seedsIn THEN CAST(333333 AS BIGINT)
      |              ELSE CAST(0 AS BIGINT) END AS pr_u
      |       FROM nodes),
      |${hop("0", "1")},
      |${hop("1", "2")},
      |${hop("2", "3")}
      |SELECT node, CAST(pr_u AS DOUBLE) / 1e6 AS ppr
      |FROM r3 WHERE pr_u > 0
      |ORDER BY pr_u DESC, node LIMIT 20""".stripMargin
  }

  // --- triangle counting -------------------------------------------------
  /** Triangle count of the co-purchase graph (parts adjacent when some
    * order contains both) — the standard graph-health/community metric.
    *
    * Execution is the degree-ordered orientation (Schank & Wagner
    * 2005): each undirected edge points from its (degree, id)-smaller
    * endpoint to the larger, so every triangle has exactly one "apex"
    * generating it and — the scale property — wedge generation is
    * bounded by sum(out_deg^2) with out_deg <= sqrt(2|E|) per node,
    * instead of the unbounded star blowup a naive id-ordered
    * enumeration hits on a hub node. The (deg, id) pair rides as a
    * struct key (structs compare lexicographically), NOT a global
    * row_number rank — no single-partition window anywhere.
    *
    * Counting INTERSECTS SORTED ADJACENCY ARRAYS instead of
    * materializing wedges: per-edge (u→v), triangles through that edge
    * = |out(u) ∩ out(v)|, a zero-allocation two-pointer loop
    * ([[graft.functions.SortedLongIntersectSize]], codegen'd). The
    * wedge-join spelling shuffles Σ out_deg² rows (~72M at sf0.1 — this
    * graph is dense and near-regular, so orientation can't thin it);
    * this spelling broadcasts the node-keyed adjacency table (|E| longs
    * total) and NOTHING wedge-sized ever exists, in memory or on the
    * wire — measured 15.5 s → sub-second at sf0.1.
    *
    * On a graph whose adjacency outgrows a broadcast (billions of
    * nodes), `broadcastAdj = false` runs the SAME two
    * joins hash-partitioned — SHUFFLE_HASH-hinted, keyed on src/dst —
    * so no node-keyed table ever has to fit on one executor; the
    * degree joins drop their broadcast hints too (deg is node-sized
    * and outgrows a broadcast at the same scale as the adjacency).
    * The per-partition work is identical (the codegen'd two-pointer
    * intersect); only the exchange pattern changes, and its cost is
    * |E| adjacency rows shuffled per join instead of a broadcast —
    * still edge-volume, NOT wedge-volume, because the intersect still
    * never materializes wedges. The crossover is the broadcast
    * threshold; both spellings are registered and oracle-checked
    * (`graph_triangles` / `graph_triangles_partitioned`), and
    * PlanAuditSpec pins the partitioned plan to zero BroadcastHashJoin.
    *
    * The count is orientation-invariant, so the oracle can use the
    * naive id-ordered SQL and must agree exactly. Output: one row
    * (n_nodes, n_edges, n_triangles) — integer counts, hash-exact.
    */
  def triangleCount(s: SparkSession, dir: String,
                    broadcastAdj: Boolean = true): DataFrame =
    triangleCountOn(copurchaseEdges(s, dir), broadcastAdj)

  /** Canonical (u < v) distinct co-purchase edge set, materialized —
    * shared by [[triangleCount]] and [[clusteringCoeff]] so neither
    * caller pays the basket self-join twice. Materialized ONCE: deg,
    * orientation, adjacency, and the counts all hang off this frame,
    * and without the checkpoint each leg re-runs the
    * self-join+distinct (the duplicated-subtree hazard pagerank
    * documents — audited as 94 Exchanges before, 1 edge build after).
    * Same durability trade as rankedAll's checkpoint.
    */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "copurchase", materializeDefault = true) {
      val items = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      items.as("a")
        .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
    }

  /** Directed customer→supplier bipartite edge set (kind "bipartite"),
    * shared by [[hitsWalks]]'s three vector consumers — extracted so
    * [[warmEdgeCaches]] can force the build outside any one query's
    * timing window.
    */
  private[graft] def bipartiteEdges(s: SparkSession, dir: String): DataFrame =
    sharedEdges(s, dir, "bipartite", materializeDefault = true) {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c"))
        .join(Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey").as("sup")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("c"), col("sup"))
        .distinct()
    }

  /** Force-build every conf-gated shared edge cache for (session, dir)
    * — a no-op when [[CacheEdgesKey]] is off. Bench calls this BEFORE
    * its timed loop and reports the build as its own `_graph_cache_build`
    * row, so the alphabetically-first graph query's wall reflects its
    * plan cost instead of absorbing the family's cache build (the r11
    * bench-table footnote this replaces). The cached path's
    * materialization is eager (localCheckpoint), so returning from here
    * means the frames are built.
    */
  def warmEdgeCaches(s: SparkSession, dir: String): Unit =
    if (s.conf.get(CacheEdgesKey, "false").toBoolean) {
      // the four edge tables are INDEPENDENT materializations — run
      // them as concurrent jobs (one driver thread each) so each
      // build's straggler tail back-fills with the next build's tasks
      // instead of leaving the executor idle (optimization-guide §2.6;
      // measured r17: 7.1 s sequential → the longest single build).
      // Failures propagate: the first build error rethrows here.
      Graft.parallelJobs(s, Seq(
        () => { val _ = tradeEdges(s, dir); () },
        () => { val _ = tradePairCounts(s, dir); () },
        () => { val _ = copurchaseEdges(s, dir); () },
        () => { val _ = bipartiteEdges(s, dir); () }))
    }

  /** Degree-oriented sorted-intersect triangle core over a prebuilt
    * canonical edge set (see [[triangleCount]] for the plan notes).
    */
  private def triangleCountOn(edges: DataFrame, broadcastAdj: Boolean): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient each edge from (deg, id)-smaller to larger; deg is
    // node-sized — broadcast (the checkpoint's LogicalRDD stats don't
    // advertise it as small, so left alone these pick SMJ and
    // re-exchange the edge list twice). In partitioned mode the same
    // joins run as shuffled hash joins building on the (smaller) deg
    // side.
    val side = adjSide(broadcastAdj)
    val oriented = edges
      .join(side(deg.as("du")), col("u") === col("du.n"))
      .join(side(deg.as("dv")), col("v") === col("dv.n"))
      .select(
        when(struct(col("du.d"), col("u")) < struct(col("dv.d"), col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // sorted out-adjacency per node; an edge whose dst has no out-edges
    // closes no triangle, so the inner join on dst drops it correctly
    val outAdj0 = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // Partitioned mode consumes the adjacency in TWO shuffled joins —
    // materialize it once, ALREADY HASH-PARTITIONED on its key (the
    // rankedAll discipline: LogicalRDD preserves outputPartitioning),
    // so neither join re-exchanges it. (Broadcast mode already computes
    // it once per broadcast, driver-side; re-checkpointing would only
    // add a copy.)
    val outAdj = if (broadcastAdj) outAdj0
      else Graft.materializeHashed(outAdj0, "src")
    val perEdge = oriented
      .join(side(outAdj.select(col("src").as("au"), col("nbrs").as("nu"))),
        col("src") === col("au"))
      .join(side(outAdj.select(col("src").as("av"), col("nbrs").as("nv"))),
        col("dst") === col("av"))
      .select(graft.functions.SortedLongIntersectSize(col("nu"), col("nv")).as("c"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val nTri = perEdge.agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nTri))
  }

  // --- bounded k-hop reachability (BFS on dataframes) -----------------------
  /** Exact breadth-first reachability counts from a bounded seed set:
    * for each seed customer (custkey ≤ `seedMax`), how many distinct
    * nodes of the trade graph sit at shortest-path distance exactly
    * 1, 2, …, `hops` — the ego-network expansion profile that powers
    * "related entities within k hops" features and influence-radius
    * analytics. The oracle is a DuckDB recursive CTE computing the
    * same min-hop sets definitionally.
    *
    * Execution shape — the canonical Pregel-on-dataframes BFS:
    *   - the edge list is materialized ONCE, hash-partitioned on src
    *     (the pagerank discipline: the 100 TB side never recomputes
    *     and never re-shuffles);
    *   - each level is ONE join of the FRONTIER (rows = newly reached
    *     (seed, node) pairs — frontier-sized, not graph-sized) against
    *     the adjacency, deduped, then LEFT ANTI against the visited
    *     set so hops mean SHORTEST distance;
    *   - each level's result is materialized, so the plan stays
    *     level-sized instead of growing a 3-deep join tree per
    *     iteration, and the visited union is a union of materialized
    *     leaves.
    * Driver-side nothing; output is |seeds| × hops rows.
    */
  def khopReach(s: SparkSession, dir: String,
                hops: Int = 3, seedMax: Long = 10): DataFrame = {
    val edges = Graft.materializeHashed(tradeEdges(s, dir), "src")
    val seeds = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") <= seedMax)
      .select(col("c_custkey").as("root"),
        (col("c_custkey") * 2L).as("node"), // tradeEdges long encoding
        lit(0).as("hop"))
    var visited = seeds
    var frontier = seeds
    for (h <- 1 to hops) {
      val next = Graft.materializeHashed(
        frontier.join(edges, frontier("node") === edges("src"))
          .select(col("root"), edges("dst").as("node"))
          .distinct()
          .join(visited, Seq("root", "node"), "left_anti")
          .withColumn("hop", lit(h)), "root", "node")
      visited = visited.unionByName(next)
      frontier = next
    }
    visited.filter(col("hop") > 0)
      .groupBy(col("root"), col("hop"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("root"), col("hop"))
  }

  // --- sampled harmonic closeness centrality -----------------------------------
  /** Harmonic closeness centrality for the bounded seed set, truncated
    * at `hops` BFS levels — Boldi & Vigna's "Axioms for Centrality"
    * (Internet Math. 2014) harmonic variant, the one that stays
    * well-defined on disconnected graphs (unreached nodes contribute
    * exactly 0 instead of breaking the mean-distance form). Truncation
    * is the standard scale posture: every node beyond `hops` would add
    * < 1/hops, and the hop profile comes from the SAME bounded-BFS
    * machinery as [[khopReach]] — this is the centrality READ of that
    * expansion profile. Normalized by N−1 (all trade-graph nodes), so
    * 1.0 = "adjacent to everyone".
    *
    * Determinism: per-hop reciprocals land on the integer micro grid
    * via `div` (1e6, 5e5, 333333 at hops ≤ 3), so the harmonic sum is
    * an exact BIGINT and the normalized score one IEEE division.
    *
    * Scale: inherits khopReach's Pregel-on-dataframes posture — the
    * edge list materialized once and hash-partitioned on src,
    * frontier-sized joins per level, LEFT ANTI visited dedup; the
    * closeness fold is |seeds|·hops-sized.
    */
  def closenessSampled(s: SparkSession, dir: String,
                       hops: Int = 3, seedMax: Long = 10): DataFrame = {
    val reach = khopReach(s, dir, hops, seedMax)
    val nTotal = Tables.load(s, dir, "customer")
      .agg(count(lit(1)).as("nc"))
      .crossJoin(broadcast(
        Tables.load(s, dir, "supplier").agg(count(lit(1)).as("ns"))))
      .select((col("nc") + col("ns")).as("n_nodes_total"))
    reach.groupBy(col("root"))
      .agg(sum(col("n_nodes")).as("n_reached"),
        sum(col("n_nodes") * expr("1000000L div hop")).as("harmonic_micro"))
      .crossJoin(broadcast(nTotal))
      .select(col("root"), col("n_reached"), col("n_nodes_total"),
        col("harmonic_micro"),
        (col("harmonic_micro").cast("double")
          / ((col("n_nodes_total") - 1L).cast("double") * lit(1e6)))
          .as("harmonic_closeness"))
      .orderBy(col("root"))
  }

  val closenessSampledSql: String = {
    val rh = PortableSql.intDiv("1000000", "hop")
    s"""WITH RECURSIVE ce AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM ce
      |          UNION SELECT dst, src FROM ce),
      |walk(root, node, hop) AS (
      |  SELECT c_custkey, 'c' || CAST(c_custkey AS VARCHAR), 0
      |  FROM customer WHERE c_custkey <= 10
      |  UNION
      |  SELECT w.root, e.dst, w.hop + 1
      |  FROM walk w JOIN edges e ON w.node = e.src
      |  WHERE w.hop < 3),
      |best AS (SELECT root, node, CAST(MIN(hop) AS BIGINT) AS hop
      |         FROM walk GROUP BY root, node),
      |tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
      |             + (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier)
      |             AS n_nodes_total)
      |SELECT root, CAST(COUNT(*) AS BIGINT) AS n_reached, n_nodes_total,
      |  CAST(SUM($rh) AS BIGINT) AS harmonic_micro,
      |  CAST(CAST(SUM($rh) AS BIGINT) AS DOUBLE)
      |    / (CAST(n_nodes_total - 1 AS DOUBLE) * 1e6) AS harmonic_closeness
      |FROM best, tot
      |WHERE hop > 0 GROUP BY root, n_nodes_total ORDER BY root""".stripMargin
  }

  // --- partition modularity ---------------------------------------------------
  /** Newman modularity of the NATION partition over the trade graph:
    * per community c, `Q_c = e_c/2m − (d_c/2m)²` where e_c counts
    * directed within-community edges and d_c the community's total
    * degree (Newman & Girvan, Phys. Rev. E 2004). This is the score a
    * community-detection run is judged by — computed here for the
    * geography partition, so it doubles as a "does geography explain
    * the trading structure" report.
    *
    * Shape: the node→community map is node-sized and joins the edge
    * list twice on its partitioning key (the pagerank discipline — at
    * 100 TB these are the two honest exchanges); everything after is
    * arithmetic over a |communities|-bounded aggregate, with each
    * contribution a few IEEE ops on exact BIGINT counts (deterministic
    * cross-engine; no float sums).
    */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir)
    val comm = Tables.load(s, dir, "customer")
      .select((col("c_custkey") * 2L).as("node"),
        col("c_nationkey").as("community"))
      .unionByName(Tables.load(s, dir, "supplier")
        .select((col("s_suppkey") * 2L + 1L).as("node"),
          col("s_nationkey").as("community")))
    val labeled = edges
      .join(comm.select(col("node").as("src"), col("community").as("src_comm")),
        Seq("src"))
      .join(comm.select(col("node").as("dst"), col("community").as("dst_comm")),
        Seq("dst"))
    val perComm = labeled.groupBy(col("src_comm").as("community"))
      .agg(count(lit(1)).as("degree_total"),
        sum(when(col("src_comm") === col("dst_comm"), 1L).otherwise(0L))
          .as("internal_edges"))
    val m2 = labeled.agg(count(lit(1)).as("m2"))
    perComm.crossJoin(broadcast(m2))
      .select(col("community"), col("internal_edges"), col("degree_total"),
        (col("internal_edges").cast("double") / col("m2").cast("double")
          - (col("degree_total").cast("double") / col("m2").cast("double"))
          * (col("degree_total").cast("double") / col("m2").cast("double")))
          .as("q_contrib"))
      .orderBy(col("community"))
  }

  val modularitySql: String =
    """WITH ce AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
      |comm AS (
      |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node,
      |         c_nationkey AS community FROM customer
      |  UNION ALL
      |  SELECT 's' || CAST(s_suppkey AS VARCHAR), s_nationkey FROM supplier),
      |lab AS (
      |  SELECT cs.community AS src_comm, cd.community AS dst_comm
      |  FROM edges e JOIN comm cs ON e.src = cs.node
      |               JOIN comm cd ON e.dst = cd.node),
      |pc AS (
      |  SELECT src_comm AS community,
      |    CAST(COUNT(*) AS BIGINT) AS degree_total,
      |    CAST(SUM(CASE WHEN src_comm = dst_comm THEN 1 ELSE 0 END) AS BIGINT)
      |      AS internal_edges
      |  FROM lab GROUP BY src_comm),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM lab)
      |SELECT community, internal_edges, degree_total,
      | CAST(internal_edges AS DOUBLE) / CAST(m2 AS DOUBLE)
      |   - (CAST(degree_total AS DOUBLE) / CAST(m2 AS DOUBLE))
      |     * (CAST(degree_total AS DOUBLE) / CAST(m2 AS DOUBLE)) AS q_contrib
      |FROM pc, t ORDER BY community""".stripMargin

  val khopReachSql: String =
    """WITH RECURSIVE ce AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM ce
      |          UNION SELECT dst, src FROM ce),
      |walk(root, node, hop) AS (
      |  SELECT c_custkey, 'c' || CAST(c_custkey AS VARCHAR), 0
      |  FROM customer WHERE c_custkey <= 10
      |  UNION
      |  SELECT w.root, e.dst, w.hop + 1
      |  FROM walk w JOIN edges e ON w.node = e.src
      |  WHERE w.hop < 3),
      |best AS (SELECT root, node, MIN(hop) AS hop
      |         FROM walk GROUP BY root, node)
      |SELECT root, hop, COUNT(*) AS n_nodes FROM best
      |WHERE hop > 0 GROUP BY root, hop ORDER BY root, hop""".stripMargin

  // --- bounded single-source shortest paths ---------------------------------
  /** Weighted shortest-path distances from a small seed set, bounded at
    * `rounds` edge relaxations — distributed Bellman-Ford, the
    * DataFrame spelling of the classic (Bellman 1958; the Pregel SSSP
    * of Malewicz et al., SIGMOD 2010). Edge weight is the trade-link
    * "distance" `1e6 div n_orders` (more shared orders ⇒ closer), an
    * exact integer so min-cost paths are engine-independent.
    *
    * Execution shape — identical discipline to [[khopReach]] /
    * pagerank: the weighted adjacency is built ONCE and materialized
    * hash-partitioned on src (the 100 TB side never recomputes or
    * re-shuffles); each round is ONE join of the distance vector
    * (|seeds|·nodes rows at worst, i.e. frontier-sized) with the
    * adjacency plus ONE min-aggregation — dist_k(v) = min(dist_{k-1}(v),
    * min_u dist_{k-1}(u) + w(u,v)) — materialized per round so the plan
    * stays round-sized. No path enumeration ever happens (the oracle's
    * recursive walk enumerates paths — exponential in rounds — which is
    * exactly why the distributed spelling is relaxation, not walks).
    * Output is |seeds| summary rows.
    */
  def ssspBounded(s: SparkSession, dir: String,
                  rounds: Int = 3, seedMax: Long = 5): DataFrame = {
    // weighted pair fold from the shared cache (kind "tradew") — under
    // the bench's cache-edges posture the scan+join+fold runs once in
    // _graph_cache_build instead of inside this query's wall
    val pairs = tradePairCounts(s, dir)
    val half = pairs.select(
      col("src"),
      col("dst"),
      expr("1000000L div n_ord").as("w"))
    val edges = Graft.materializeHashed(
      half.unionByName(
        half.select(col("dst").as("src"), col("src").as("dst"), col("w"))),
      "src")
    var dist = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") <= seedMax)
      .select(col("c_custkey").as("root"),
        (col("c_custkey") * 2L).as("node"),
        lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(edges, dist("node") === edges("src"))
        .select(col("root"), edges("dst").as("node"),
          (col("dist") + col("w")).as("dist"))
      dist = Graft.materializeHashed(
        dist.unionByName(relaxed)
          .groupBy(col("root"), col("node"))
          .agg(min(col("dist")).as("dist")), "root", "node")
    }
    dist.filter(col("dist") > 0)
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist")).as("sum_dist_micro"),
        max(col("dist")).as("max_dist_micro"))
      .orderBy(col("root"))
  }

  val ssspBoundedSql: String = {
    val w = PortableSql.intDiv("1000000", "n_ord")
    s"""WITH RECURSIVE pairs AS (
      |  SELECT o_custkey AS c, l_suppkey AS sk,
      |         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_ord
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |half AS (
      |  SELECT 'c' || CAST(c AS VARCHAR) AS src,
      |         's' || CAST(sk AS VARCHAR) AS dst, $w AS w
      |  FROM pairs),
      |edges AS (SELECT src, dst, w FROM half
      |          UNION ALL SELECT dst, src, w FROM half),
      |walk(root, node, d, hop) AS (
      |  SELECT c_custkey, 'c' || CAST(c_custkey AS VARCHAR),
      |         CAST(0 AS BIGINT), 0
      |  FROM customer WHERE c_custkey <= 5
      |  UNION
      |  SELECT wk.root, e.dst, wk.d + e.w, wk.hop + 1
      |  FROM walk wk JOIN edges e ON wk.node = e.src
      |  WHERE wk.hop < 3),
      |best AS (SELECT root, node, MIN(d) AS d FROM walk GROUP BY 1, 2)
      |SELECT root, CAST(COUNT(*) AS BIGINT) AS n_reached,
      |       CAST(SUM(d) AS BIGINT) AS sum_dist_micro,
      |       CAST(MAX(d) AS BIGINT) AS max_dist_micro
      |FROM best WHERE d > 0 GROUP BY root ORDER BY root""".stripMargin
  }

  // --- synchronous label propagation ------------------------------------------
  /** Three synchronous rounds of label propagation (Raghavan et al.,
    * Phys. Rev. E 2007) over the trade graph, fully deterministic:
    * every node starts labeled with its own id, each round adopts the
    * MODE of its neighbors' labels with ties broken by MINIMUM label
    * (string order — identical in both engines), and rounds are
    * synchronous so there is no update-order dependence. Produces an
    * actual community assignment — [[modularity]] scores a given
    * partition; this derives one.
    *
    * Execution shape — the pagerank discipline verbatim: adjacency
    * materialized once hash-partitioned on src; each round is ONE join
    * of the node-sized label vector with the adjacency, ONE
    * (node,label) aggregation, and ONE per-node top-1 window over the
    * per-node candidate labels (bounded by distinct neighbor labels,
    * never unbounded), materialized so the plan stays round-sized.
    * Output: the 20 largest communities.
    */
  def labelPropagation(s: SparkSession, dir: String,
                       rounds: Int = 3): DataFrame = {
    val edges = Graft.materializeHashed(tradeEdges(s, dir), "src")
    // node ids are longs; the LABEL stays the public "c…"/"s…" STRING
    // so the min-label tie-break keeps its original string ordering
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", nodeStr(col("node")))
    for (_ <- 1 to rounds) {
      val w = Window.partitionBy(col("node"))
        .orderBy(col("cnt").desc, col("lab"))
      labels = Graft.materializeHashed(
        edges.join(labels, edges("src") === labels("node"))
          .select(edges("dst").as("node"), col("lab"))
          .groupBy(col("node"), col("lab"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("node"), col("lab")), "node")
    }
    labels.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(20)
  }

  val labelPropagationSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
        |  SELECT node, lab FROM (
        |    SELECT e.dst AS node, l.lab, COUNT(*) AS cnt,
        |      row_number() OVER (PARTITION BY e.dst
        |                         ORDER BY COUNT(*) DESC, l.lab) AS rn
        |    FROM edges e JOIN $prev l ON e.src = l.node
        |    GROUP BY e.dst, l.lab)
        |  WHERE rn = 1)""".stripMargin
    s"""WITH cs AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
      |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
      |${round("l0", "l1")},
      |${round("l1", "l2")},
      |${round("l2", "l3")}
      |SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |FROM l3 GROUP BY lab
      |ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin
  }

  // --- degree assortativity ---------------------------------------------------
  /** Degree assortativity of the trade graph: the Pearson correlation
    * of (deg(src), deg(dst)) over the directed edge list (Newman,
    * Phys. Rev. Lett. 2002) — positive means hubs trade with hubs,
    * negative (typical for bipartite commerce) means hubs serve the
    * periphery. Complements [[modularity]] as the second classic
    * structure scalar.
    *
    * Linear moments (m, Σdx, Σdy) are exact BIGINTs; the second
    * moments accumulate in DECIMAL(38,0) on BOTH engines — hub degrees
    * grow with the catalog, so deg²·|E| outruns BIGINT at modest SF
    * (the [[TimeSeries.autocorrelation]] decimal-moments rule) — and
    * the coefficient is a fixed IEEE sequence over those exact values.
    * Shape: degree is one aggregation of the edge list;
    * labeling joins the node-sized degree table onto the edges twice
    * on their partitioning keys — the same two honest exchanges as
    * modularity — and the moments reduce map-side to one row.
    */
  // --- average neighbor degree profile -----------------------------------------
  /** AVERAGE-NEIGHBOR-DEGREE profile k_nn(k) over the trade graph
    * (Pastor-Satorras, Vázquez & Vespignani, PRL 2001): for each
    * degree class k, the node-averaged mean neighbor degree
    * k_nn(k) = (1/N_k) Σ_{deg v = k} (1/k) Σ_{u∈N(v)} deg u — the
    * degree-resolved companion of the single-number [[assortativity]]
    * coefficient (rising profile = assortative mixing, falling =
    * hubs-attract-leaves). This is the curve a partitioner reads to
    * predict whether hub-adjacent shuffles will skew.
    *
    * Exactness: Σ_v Σ_{u∈N(v)} deg u per class is the degree second
    * moment restricted to class k — SF-growing, so neighbor-degree
    * sums accumulate in DECIMAL (the assortativity moments rule);
    * k_nn is ONE double division of exact quantities (÷ k·N_k).
    *
    * Shape: degree is one aggregation of the edge list; one node-keyed
    * join labels each directed edge with its destination degree; the
    * per-source sum collapses on the source key and the class rollup
    * is degree-histogram-sized (≤ max degree rows). Same two honest
    * exchanges as [[assortativity]] — no adjacency materialization,
    * no broadcast of anything data-sized.
    */
  def avgNeighborDegree(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nbrSum = edges
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
      .groupBy(col("src"))
      .agg(sum(col("dy").cast("decimal(18,0)")).as("s_nbr"))
    nbrSum.join(deg, Seq("src"))
      .groupBy(col("deg").as("k"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("s_nbr")).as("sum_nbr_deg"))
      .select(col("k"), col("n_nodes"),
        // exact below 2^53 and correctly-rounded above in both engines
        col("sum_nbr_deg").cast("double").as("sum_nbr_deg"),
        (col("sum_nbr_deg").cast("double")
          / (col("k") * col("n_nodes")).cast("double")).as("k_nn"))
      .orderBy(col("k"))
  }

  val avgNeighborDegreeSql: String =
    """WITH cs AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM edges GROUP BY src),
      |ns AS (
      |  SELECT e.src, SUM(CAST(b.deg AS DECIMAL(18,0))) AS s_nbr
      |  FROM edges e JOIN deg b ON e.dst = b.src
      |  GROUP BY e.src),
      |cls AS (
      |  SELECT deg AS k, CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |         SUM(s_nbr) AS sum_nbr_deg
      |  FROM ns JOIN deg USING (src)
      |  GROUP BY deg)
      |SELECT k, n_nodes, CAST(CAST(sum_nbr_deg AS VARCHAR) AS DOUBLE) AS sum_nbr_deg,
      |  CAST(CAST(sum_nbr_deg AS VARCHAR) AS DOUBLE) / CAST(k * n_nodes AS DOUBLE) AS k_nn
      |FROM cls ORDER BY k""".stripMargin

  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val labeled = edges
      .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")),
        Seq("dst"))
    // second moments in DECIMAL(38,0): hub degrees grow with SF, so
    // deg²·|E| passes BIGINT at modest scale (the decimal-moments rule)
    val dxd = col("dx").cast("decimal(18,0)")
    val dyd = col("dy").cast("decimal(18,0)")
    labeled
      .agg(count(lit(1)).as("m"), sum(col("dx")).as("sx"),
        sum(col("dy")).as("sy"), sum(dxd * dyd).as("sxy"),
        sum(dxd * dxd).as("sxx"),
        sum(dyd * dyd).as("syy"))
      .select(col("m").as("n_directed_edges"),
        ((col("m").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("m").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * (col("m").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("assortativity"))
  }

  val assortativitySql: String =
    """WITH cs AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM edges GROUP BY src),
      |lab AS (
      |  SELECT a.deg AS dx, b.deg AS dy
      |  FROM edges e JOIN deg a ON e.src = a.src
      |               JOIN deg b ON e.dst = b.src),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(dx) AS BIGINT) AS sx,
      |    CAST(SUM(dy) AS BIGINT) AS sy,
      |    SUM(CAST(dx AS DECIMAL(18,0)) * CAST(dy AS DECIMAL(18,0))) AS sxy,
      |    SUM(CAST(dx AS DECIMAL(18,0)) * CAST(dx AS DECIMAL(18,0))) AS sxx,
      |    SUM(CAST(dy AS DECIMAL(18,0)) * CAST(dy AS DECIMAL(18,0))) AS syy
      |  FROM lab)
      |SELECT m AS n_directed_edges,
      |  (CAST(m AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |  / sqrt((CAST(m AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * (CAST(m AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
      |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    AS assortativity
      |FROM mo""".stripMargin

  val triangleCountSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
      |    (SELECT DISTINCT n FROM
      |      (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e))) AS n_nodes,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
      |  (SELECT CAST(COUNT(*) AS BIGINT)
      |   FROM e e1 JOIN e e2 ON e2.u = e1.v
      |             JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin

  // --- global clustering coefficient ------------------------------------------
  /** Global clustering coefficient (transitivity) of the co-purchase
    * graph: C = 3·triangles / wedges (Watts & Strogatz 1998's global
    * variant) — how much of the neighborhood structure closes into
    * triangles, the one-number cohesion summary read beside the raw
    * triangle count. Wedges = Σ_v deg(v)·(deg(v)−1)/2 is an exact
    * BIGINT from one degree aggregate (deg·(deg−1) is always even, so
    * the halving is exact integer division); the triangle count reuses
    * [[triangleCount]]'s oriented sorted-intersect spelling. The ratio
    * is one IEEE division of exact integers.
    */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    // ONE materialized edge build feeds both the wedge count and the
    // triangle core (before the refactor each computed its own
    // basket self-join: 5.9 s -> shares the dominant cost once)
    val edges = copurchaseEdges(s, dir)
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val tri = triangleCountOn(edges, broadcastAdj = true)
      .select(col("n_triangles"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        (lit(3.0) * col("n_triangles").cast("double")
          / col("n_wedges").cast("double")).as("transitivity"))
  }

  val clusteringCoeffSql: String = {
    val half = PortableSql.intDiv("deg * (deg - 1)", "2")
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |d AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |    (SELECT u AS node FROM e UNION ALL SELECT v FROM e) n
      |  GROUP BY node),
      |w AS (SELECT CAST(SUM($half) AS BIGINT) AS n_wedges FROM d),
      |t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e2.u = e1.v
      |            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT n_triangles, n_wedges,
      |  3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
      |    AS transitivity
      |FROM t, w""".stripMargin
  }

  // --- neighbor-Jaccard link scoring --------------------------------------------
  /** Top-20 co-purchase edges by neighborhood Jaccard — the classic
    * link-prediction / tie-strength score (Liben-Nowell & Kleinberg,
    * CIKM 2003): J(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|, with the
    * union via inclusion-exclusion (deg_u + deg_v − common) so only
    * the intersection is ever computed. A high-Jaccard edge is an
    * embedded tie (shared context); a low one is a bridge.
    *
    * Reuses the triangle machinery end-to-end: the SAME materialized
    * canonical edge set, sorted FULL adjacency lists (both directions
    * this time — Jaccard needs whole neighborhoods, not an
    * orientation), and the codegen'd SortedLongIntersectSize for the
    * per-edge common count. Counts are exact BIGINTs; Jaccard is one
    * IEEE division; top-20 breaks ties on (u, v).
    *
    * Scale posture mirrors [[triangleCount]]: the node-keyed adjacency
    * grows with the part catalog (2e5·SF nodes, hot-hub neighbor
    * lists), so it is data-sized at 100 TB, not broadcast-sized.
    * `broadcastAdj = false` runs the SAME two
    * joins SHUFFLE_HASH-hinted on u/v — the adjacency is materialized
    * once and exchanged per join (edge-volume, never pair-volume) and
    * no node-keyed table ever has to fit on one executor. Both
    * spellings are registered (`graph_link_jaccard` /
    * `graph_link_jaccard_partitioned`), oracle-equal, and
    * PlanAuditSpec pins the partitioned plan to zero
    * BroadcastHashJoin over the adjacency.
    */
  def linkJaccard(s: SparkSession, dir: String, k: Int = 20,
                  broadcastAdj: Boolean = true): DataFrame =
    commonCounts(copurchaseEdges(s, dir), broadcastAdj)
      .select(col("u"), col("v"), col("common"),
        (col("common").cast("double")
          / (col("du") + col("dv") - col("common")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(k)

  /** Symmetrized both-directions edge list of a canonical (u < v) set
    * — the link-predictor family's shared first step.
    */
  private def symmetrize(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))

  /** Shared core of [[linkJaccard]] and [[commonNeighbors]]: per-edge
    * (u, v, du, dv, common) over the canonical edge set, with the
    * neighbor intersection the codegen'd sorted two-pointer merge and
    * the adjacency consumed broadcast or shuffle-hash per the caller's
    * `broadcastAdj` (see [[linkJaccard]]'s scale notes).
    */
  private def commonCounts(edges: DataFrame, broadcastAdj: Boolean): DataFrame = {
    val full = symmetrize(edges)
    val adj0 = full.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"),
        count(lit(1)).as("deg"))
    // partitioned mode consumes the adjacency in TWO shuffled joins —
    // materialize once, hash-partitioned on node so neither join
    // re-exchanges it (broadcast mode computes it once driver-side)
    val adj = if (broadcastAdj) adj0
      else Graft.materializeHashed(adj0, "node")
    val side = adjSide(broadcastAdj)
    edges
      .join(side(adj.select(col("node").as("nu"), col("nbrs").as("au"),
        col("deg").as("du"))), col("u") === col("nu"))
      .join(side(adj.select(col("node").as("nv"), col("nbrs").as("av"),
        col("deg").as("dv"))), col("v") === col("nv"))
      .select(col("u"), col("v"), col("du"), col("dv"),
        graft.functions.SortedLongIntersectSize(col("au"), col("av"))
          .cast("long").as("common"))
  }

  /** Top-20 co-purchase edges by raw common-neighbor count (Newman,
    * Phys. Rev. E 2001 — the baseline every weighted link predictor
    * in this family normalizes: [[linkJaccard]] divides by the union,
    * [[resourceAlloc]] and [[adamicAdar]] damp by neighbor degree).
    * Reported with both endpoint degrees so the reader can see WHY
    * the weighted scores reorder it. Exact integers throughout; ties
    * break on (u, v). Same plan and `broadcastAdj` gating as
    * [[linkJaccard]]; the oracle spells the wedge join.
    */
  def commonNeighbors(s: SparkSession, dir: String, k: Int = 20,
                      broadcastAdj: Boolean = true): DataFrame =
    commonCounts(copurchaseEdges(s, dir), broadcastAdj)
      .filter(col("common") > 0)
      .select(col("u"), col("v"), col("common"), col("du"), col("dv"))
      .orderBy(col("common").desc, col("u"), col("v"))
      .limit(k)

  /** Top-20 co-purchase edges by preferential attachment
    * (Barabási & Albert, Science 1999; as a link predictor,
    * Liben-Nowell & Kleinberg, CIKM 2003): PA(u,v) = deg(u)·deg(v) —
    * the no-neighborhood-overlap member of the classical family
    * ([[commonNeighbors]] / [[linkJaccard]] / [[resourceAlloc]] /
    * [[adamicAdar]] all read the intersection; PA reads only the two
    * degrees, so it is the cheapest predictor and the standard "hubs
    * attract" baseline the others are judged against). Exact BIGINT
    * product; ties break on (u, v).
    *
    * Plan: degree is one aggregation of the symmetrized edge list;
    * scoring joins the NODE-sized degree table onto the edges twice —
    * broadcast or shuffle-hash per `broadcastAdj`,
    * the family discipline — and the top-20 is a distributed
    * TakeOrdered. No adjacency lists are ever built.
    */
  def prefAttachment(s: SparkSession, dir: String, k: Int = 20,
                     broadcastAdj: Boolean = true): DataFrame = {
    val edges = copurchaseEdges(s, dir)
    val deg = symmetrize(edges).groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val side = adjSide(broadcastAdj)
    edges
      .join(side(deg.select(col("node").as("nu"), col("deg").as("du"))),
        col("u") === col("nu"))
      .join(side(deg.select(col("node").as("nv"), col("deg").as("dv"))),
        col("v") === col("nv"))
      .select(col("u"), col("v"), col("du"), col("dv"),
        (col("du") * col("dv")).as("pa"))
      .orderBy(col("pa").desc, col("u"), col("v"))
      .limit(k)
  }

  val prefAttachmentSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |f AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |d AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |      FROM f GROUP BY u),
      |r AS (
      |  SELECT e.u, e.v, du.deg AS du, dv.deg AS dv,
      |    du.deg * dv.deg AS pa,
      |    CAST(row_number() OVER (ORDER BY du.deg * dv.deg DESC, e.u, e.v)
      |         AS BIGINT) AS rnk
      |  FROM e JOIN d du ON du.node = e.u JOIN d dv ON dv.node = e.v)
      |SELECT u, v, du, dv, pa FROM r WHERE rnk <= 20
      |ORDER BY pa DESC, u, v""".stripMargin

  val commonNeighborsSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |f AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |d AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |      FROM f GROUP BY u),
      |cm AS (
      |  SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS common
      |  FROM e JOIN f fu ON fu.u = e.u JOIN f fv ON fv.u = e.v
      |    AND fv.v = fu.v
      |  GROUP BY e.u, e.v),
      |r AS (
      |  SELECT cm.u, cm.v, cm.common, du.deg AS du, dv.deg AS dv,
      |    CAST(row_number() OVER (ORDER BY cm.common DESC, cm.u, cm.v)
      |         AS BIGINT) AS rnk
      |  FROM cm JOIN d du ON du.node = cm.u JOIN d dv ON dv.node = cm.v)
      |SELECT u, v, common, du, dv FROM r WHERE rnk <= 20
      |ORDER BY common DESC, u, v""".stripMargin

  val linkJaccardSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |f AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |d AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |      FROM f GROUP BY u),
      |cm AS (
      |  SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS common
      |  FROM e JOIN f fu ON fu.u = e.u JOIN f fv ON fv.u = e.v
      |    AND fv.v = fu.v
      |  GROUP BY e.u, e.v),
      |sc AS (
      |  SELECT e.u, e.v, COALESCE(cm.common, 0) AS common,
      |    CAST(COALESCE(cm.common, 0) AS DOUBLE)
      |      / CAST(du.deg + dv.deg - COALESCE(cm.common, 0) AS DOUBLE)
      |      AS jaccard
      |  FROM e
      |  JOIN d du ON du.node = e.u
      |  JOIN d dv ON dv.node = e.v
      |  LEFT JOIN cm ON cm.u = e.u AND cm.v = e.v)
      |SELECT u, v, CAST(common AS BIGINT) AS common, jaccard
      |FROM sc ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin

  // --- Resource-Allocation link scoring ----------------------------------------
  /** Top-20 co-purchase edges by the Resource Allocation index (Zhou,
    * Lü & Zhang, Eur. Phys. J. B 2009): RA(u,v) = Σ_{w∈N(u)∩N(v)}
    * 1/deg(w) — [[linkJaccard]]'s degree-weighted sibling, and the
    * consistently strongest of the classical local link predictors: a
    * common neighbor shared with few others is strong evidence, a hub
    * everyone shares is weak. Reported in exact integer MICRO-units
    * (`ra_micro` = Σ 1000000 div deg(w), truncating integer division)
    * so the per-edge sum is an order-independent BIGINT both engines
    * agree on bit-for-bit — the float 1/deg sum would hash-diverge on
    * partition order.
    *
    * The per-neighbor weight rides the adjacency ONCE (each node's
    * sorted neighbor array gains an aligned micro-weight array, built
    * node-sized), and the per-edge evaluation is the codegen'd
    * [[graft.functions.SortedIntersectWeightSum]] two-pointer merge —
    * the same zero-allocation discipline as the triangle intersect,
    * NEVER a wedge join (the oracle spells the wedge join; Σ deg² vs
    * this plan's |E| adjacency rows). Broadcast vs shuffled-hash
    * adjacency joins gate on `broadcastAdj`
    * exactly like [[triangleCount]] and [[linkJaccard]].
    */
  def resourceAlloc(s: SparkSession, dir: String, k: Int = 20,
                    broadcastAdj: Boolean = true): DataFrame =
    weightedLinkScoreOn(copurchaseEdges(s, dir), k, broadcastAdj,
      expr("1000000 div deg"), "ra_micro")

  /** Shared core of [[resourceAlloc]] and [[adamicAdar]]: per-edge
    * Σ weight(deg(w)) over common neighbors, with the weight riding
    * the adjacency and the per-edge evaluation the codegen'd
    * [[graft.functions.SortedIntersectWeightSum]] two-pointer merge.
    * `weight` must be an exact-integer expression over `deg`.
    */
  private[graft] def weightedLinkScoreOn(edges: DataFrame, k: Int,
                                         broadcastAdj: Boolean, weight: Column,
                                         outName: String): DataFrame = {
    val full = symmetrize(edges)
    val deg = full.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val side = adjSide(broadcastAdj)
    // neighbor micro-weight joins on the node-sized degree table; the
    // struct sort keys on v (unique per adjacency), so nbrs and wts
    // stay aligned after the two transforms (node-sized HOFs — the
    // pair-volume hot path below is the codegen'd expression)
    val withW = full.join(side(deg.select(col("node").as("v"),
        weight.as("w"))), Seq("v"))
    val adj0 = withW.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(struct(col("v"), col("w")))).as("pairs"))
      .select(col("node"),
        expr("transform(pairs, x -> x.v)").as("nbrs"),
        expr("transform(pairs, x -> x.w)").as("wts"))
    // partitioned mode: checkpoint ALREADY HASH-PARTITIONED on node
    // (the rankedAll discipline — LogicalRDD preserves
    // outputPartitioning), so neither consumer join re-exchanges the
    // adjacency table
    val adj =
      if (broadcastAdj) adj0
      else Graft.materializeHashed(adj0, "node")
    // the u-side join attaches ONLY the neighbor-id array; the aligned
    // micro-weights ride the V side, which arrives NODE-keyed in its
    // own join and never crosses the per-edge exchange. The weight of a
    // common neighbor w is a function of w alone, so summing the
    // v-side's aligned weights over the SAME intersection is the
    // identical exact-integer result — and the per-edge rows that
    // re-shuffle from the u-join to the v-join carry HALF the array
    // bytes (measured r17: the v-keyed exchange was 1.10 GB / 80.6 s
    // task-CPU with both arrays riding, the dominant cost of the whole
    // query).
    edges
      .join(side(adj.select(col("node").as("nu"), col("nbrs").as("au"))),
        col("u") === col("nu"))
      .join(side(adj.select(col("node").as("nv"), col("nbrs").as("av"),
        col("wts").as("awv"))), col("v") === col("nv"))
      .select(col("u"), col("v"),
        graft.functions.SortedIntersectWeightSum(col("av"), col("awv"),
          col("au")).as(outName))
      .filter(col(outName) > 0)
      .orderBy(col(outName).desc, col("u"), col("v"))
      .limit(k)
  }

  /** Top-20 co-purchase edges by Adamic–Adar (Adamic & Adar, Social
    * Networks 2003): AA(u,v) = Σ_{w∈N(u)∩N(v)} 1/ln deg(w) — the
    * log-damped sibling of [[resourceAlloc]] (RA damps hubs harder;
    * AA is the citation-classic middle ground between it and the raw
    * common-neighbor count). Exactness discipline: the weight is the
    * INTEGER 1e12 div lnµ(deg) where lnµ is the repo-wide micronat
    * log (`round(ln(x)·1e6)` — both engines round the same libm-class
    * double, the [[graft.queries.TextQueries]] entropy contract), so
    * the per-edge sum is an order-independent exact BIGINT. The weight
    * is evaluated for EVERY node at adjacency-build time — including
    * degree-1 pendant nodes, where ln(1) = 0 would make the ANSI
    * integer division throw DIVIDE_BY_ZERO — so it is guarded to 0
    * for deg < 2. The zero weight is never READ: a common neighbor of
    * any edge has deg ≥ 2 by construction (both endpoints are its
    * neighbors), so lnµ(deg) ≥ 693147 wherever the merge-scan actually
    * sums a weight. Same plan as RA: weighted sorted
    * adjacency + codegen'd merge, never a wedge join; the oracle
    * spells the wedge join.
    */
  def adamicAdar(s: SparkSession, dir: String, k: Int = 20,
                 broadcastAdj: Boolean = true): DataFrame =
    weightedLinkScoreOn(copurchaseEdges(s, dir), k, broadcastAdj,
      adamicAdarWeight, "aa_micro")

  /** Pendant-safe micronat AA weight: 0 for deg < 2 (never summed —
    * a common neighbor always has deg ≥ 2), exact integer division of
    * 1e12 by the micronat log otherwise.
    */
  private[graft] def adamicAdarWeight: Column =
    expr("case when deg >= 2 then 1000000000000 div " +
      "cast(round(ln(cast(deg as double)) * 1e6) as bigint) " +
      "else cast(0 as bigint) end")

  val adamicAdarSql: String = {
    val w = PortableSql.intDiv("1000000000000",
      "CAST(round(ln(CAST(dw.deg AS DOUBLE)) * 1e6) AS BIGINT)")
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |f AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |d AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |      FROM f GROUP BY u),
      |aa AS (
      |  SELECT e.u, e.v, CAST(SUM(""".stripMargin + w +
    """) AS BIGINT) AS aa_micro
      |  FROM e JOIN f fu ON fu.u = e.u
      |         JOIN f fv ON fv.u = e.v AND fv.v = fu.v
      |         JOIN d dw ON dw.node = fu.v
      |  GROUP BY e.u, e.v),
      |r AS (
      |  SELECT u, v, aa_micro,
      |    CAST(row_number() OVER (ORDER BY aa_micro DESC, u, v) AS BIGINT)
      |      AS rnk
      |  FROM aa WHERE aa_micro > 0)
      |SELECT u, v, aa_micro FROM r WHERE rnk <= 20
      |ORDER BY aa_micro DESC, u, v""".stripMargin
  }

  val resourceAllocSql: String = {
    val w = PortableSql.intDiv("1000000", "dw.deg")
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |f AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |d AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |      FROM f GROUP BY u),
      |ra AS (
      |  SELECT e.u, e.v, CAST(SUM(""".stripMargin + w +
    """) AS BIGINT) AS ra_micro
      |  FROM e JOIN f fu ON fu.u = e.u
      |         JOIN f fv ON fv.u = e.v AND fv.v = fu.v
      |         JOIN d dw ON dw.node = fu.v
      |  GROUP BY e.u, e.v),
      |r AS (
      |  SELECT u, v, ra_micro,
      |    CAST(row_number() OVER (ORDER BY ra_micro DESC, u, v) AS BIGINT)
      |      AS rnk
      |  FROM ra WHERE ra_micro > 0)
      |SELECT u, v, ra_micro FROM r WHERE rnk <= 20
      |ORDER BY ra_micro DESC, u, v""".stripMargin
  }

  // --- bounded k-core peel ----------------------------------------------------
  /** Bounded k-core decomposition of the trade graph (Seidman, Social
    * Networks 1983): `rounds` synchronous peels each drop every node
    * whose CURRENT degree is below k, reporting the surviving
    * node/edge census per round — the standard "dense backbone"
    * extraction that strips hangers-on before community or influence
    * analysis. Three rounds reach the fixpoint on most commerce graphs
    * (PlanAuditSpec-style: each round reads only the previous round's
    * MATERIALIZED edge set, never parquet — the [[labelPropagation]]
    * iterate-materialize discipline, with each survivor filter a
    * node-keyed semi join, never a pairwise product).
    *
    * Unbounded-degeneracy ordering (the full core number per node)
    * needs data-dependent iteration counts; the bounded peel is the
    * fixed-plan spelling whose oracle is the 3× unrolled CTE.
    */
  def kcorePeel(s: SparkSession, dir: String,
                k: Int = 3, rounds: Int = 3): DataFrame = {
    // plain materialize, NOT hash-declared: each round fans the edge
    // set out to THREE consumers (degree fold + two semi joins), and
    // the A/B measured the declared layout a net loss here — the
    // shared exchange was the dedup point, and the extra per-round
    // repartition cost more than the elided exchanges (sf0.1: 1.9 s
    // plain vs 3.2 s declared; 10×: 14.4 s vs 24.6 s) — the same
    // fan-out mechanism as the shared-cache finding in sharedEdges.
    var edges = Graft.materialize(tradeEdges(s, dir))
    val out = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      edges = Graft.materialize(
        edges.join(keep, edges("src") === keep("node"), "left_semi")
          .join(keep.withColumnRenamed("node", "node2"),
            edges("dst") === col("node2"), "left_semi"))
      out += edges.agg(countDistinct(col("src")).as("n_nodes"),
        count(lit(1)).as("n_edges"))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
    }
    out.result().reduce(_.unionByName(_)).orderBy(col("round"))
  }

  val kcorePeelSql: String = {
    def peel(prev: String, cur: String): String =
      s"""k$cur AS (SELECT src AS node FROM
        |  (SELECT src, COUNT(*) AS deg FROM e$prev GROUP BY src) d
        |  WHERE deg >= 3),
        |e$cur AS (
        |  SELECT e.src, e.dst FROM e$prev e
        |  JOIN k$cur a ON e.src = a.node
        |  JOIN k$cur b ON e.dst = b.node)""".stripMargin
    s"""WITH cs AS (
      |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
      |         's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e0 AS (SELECT src, dst FROM cs
      |       UNION ALL SELECT dst, src FROM cs),
      |${peel("0", "1")},
      |${peel("1", "2")},
      |${peel("2", "3")}
      |SELECT CAST(1 AS BIGINT) AS round,
      |  (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM e1) AS n_nodes,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges
      |UNION ALL
      |SELECT CAST(2 AS BIGINT),
      |       (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM e2),
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
      |UNION ALL
      |SELECT CAST(3 AS BIGINT),
      |       (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM e3),
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e3)
      |ORDER BY round""".stripMargin
  }

  // --- Katz-style walk-count centrality ---------------------------------------
  /** Top-20 trade-graph nodes by attenuated walk-count centrality —
    * the truncated Katz index (Katz, Psychometrika 1953): score(v) =
    * Σ_{k=1..3} β^k · walks_k(v), walks_k = number of length-k walks
    * ending at v, β = 1/8. Reported as the exact INTEGER numerator
    * `katz64 = 64·w1 + 8·w2 + w3` (the score scaled by 8³), so parity
    * with the oracle is structural — no floating point anywhere, the
    * [[rankedAll]] micro-rank discipline. Walk counts relate to the
    * [[pagerank]] family (both are attenuated-path centralities), but
    * Katz keeps raw counts where PageRank normalizes by out-degree —
    * hubs score superlinearly, which is the read a marketplace uses
    * to find its structural anchors.
    *
    * Plan: w1 = one aggregation of the (already symmetrized)
    * [[tradeEdges]]; w_{k+1}(v) = Σ_{u→v} w_k(u) — each hop is ONE
    * join of the edge table against the NODE-sized previous vector
    * (broadcast or SHUFFLE_HASH per the family's
    * `broadcastAdj` parameter) + ONE dst-keyed
    * aggregation: the Pregel-on-dataframes step, never an adjacency
    * materialization. Final score joins three node-sized vectors and
    * TakeOrders the top 20. BIGINT stays exact: at 100 TB-scale hub
    * degree ~1e5, w3 ~ deg·(avg deg)² ~ 1e13 and ×64 is far inside
    * Long range; overflow would fail LOUDLY under ANSI, not wrap.
    */
  def katzWalks(s: SparkSession, dir: String, k: Int = 20,
                broadcastAdj: Boolean = true): DataFrame = {
    val edges = tradeEdges(s, dir)
    val side = adjSide(broadcastAdj)
    // w1 and w2 each feed TWO consumers (the next hop and the final
    // join) — materialize the NODE-sized vectors so neither consumer
    // re-runs the edge scan behind them (the rankedAll iteration
    // discipline; the checkpoint itself is node-small at any SF)
    val w1 = Graft.materialize(
      edges.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("w1")))
    def hop(prev: DataFrame, in: String, out: String): DataFrame =
      edges
        .join(side(prev.select(col("node").as("via"), col(in))),
          col("src") === col("via"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col(in)).as(out))
    val w2 = Graft.materialize(hop(w1, "w1", "w2"))
    val w3 = hop(w2, "w2", "w3")
    w1.join(side(w2), Seq("node"))
      .join(side(w3), Seq("node"))
      .select(nodeStr(col("node")).as("node"), col("w1"), col("w2"),
        col("w3"),
        (lit(64L) * col("w1") + lit(8L) * col("w2") + col("w3"))
          .as("katz64"))
      .orderBy(col("katz64").desc, col("node"))
      .limit(k)
  }

  val katzWalksSql: String =
    """WITH cs AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
      |w1 AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS w1
      |       FROM edges GROUP BY dst),
      |w2 AS (SELECT e.dst AS node, CAST(SUM(w1.w1) AS BIGINT) AS w2
      |       FROM edges e JOIN w1 ON w1.node = e.src GROUP BY e.dst),
      |w3 AS (SELECT e.dst AS node, CAST(SUM(w2.w2) AS BIGINT) AS w3
      |       FROM edges e JOIN w2 ON w2.node = e.src GROUP BY e.dst),
      |r AS (
      |  SELECT w1.node, w1.w1, w2.w2, w3.w3,
      |    64 * w1.w1 + 8 * w2.w2 + w3.w3 AS katz64,
      |    row_number() OVER (
      |      ORDER BY 64 * w1.w1 + 8 * w2.w2 + w3.w3 DESC, w1.node) AS rnk
      |  FROM w1 JOIN w2 ON w2.node = w1.node JOIN w3 ON w3.node = w1.node)
      |SELECT node, w1, w2, w3, katz64 FROM r WHERE rnk <= 20
      |ORDER BY katz64 DESC, node""".stripMargin

  // --- degree distribution ----------------------------------------------------
  /** Degree distribution of the trade graph: (degree, n_nodes),
    * ascending — the first structural census of any production graph
    * (the power-law check of Barabási & Albert, Science 1999, read
    * before trusting any mean-degree capacity plan; a heavy tail here
    * is exactly what makes the skew-join/salting disciplines
    * elsewhere in this repo necessary). Two hash aggregations — edge
    * list → node degrees → degree histogram — each with map-side
    * partials; the histogram is at most |distinct degrees| rows.
    * Exact integers, total order on degree.
    */
  def degreeHistogram(s: SparkSession, dir: String): DataFrame =
    tradeEdges(s, dir)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  val degreeHistogramSql: String =
    """WITH cs AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
      |        FROM edges GROUP BY src)
      |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  // --- local bridges ----------------------------------------------------------
  /** Top-20 LOCAL BRIDGES of the co-purchase graph: edges whose
    * endpoints share NO common neighbor (span > 2 — deleting the edge
    * puts its endpoints ≥ 3 hops apart), ranked by endpoint degree
    * product — Granovetter's weak ties ("The Strength of Weak Ties",
    * AJS 1973): the high-degree pairs connected ONLY by this edge are
    * the information conduits between otherwise-disjoint
    * neighborhoods, the exact complement of [[commonNeighbors]]'
    * highest-overlap pairs. Exact integers; ties break on (u, v).
    *
    * Plan: the same [[commonCounts]] core as the link-predictor family
    * (adjacency consumed broadcast or SHUFFLE_HASH per
    * `broadcastAdj`), filtered to common = 0 —
    * the sorted-merge intersection emits the zero without any extra
    * pass — then a distributed TakeOrdered(20).
    */
  def localBridges(s: SparkSession, dir: String, k: Int = 20,
                   broadcastAdj: Boolean = true): DataFrame =
    commonCounts(copurchaseEdges(s, dir), broadcastAdj)
      .filter(col("common") === 0)
      .select(col("u"), col("v"), col("du"), col("dv"),
        (col("du") * col("dv")).as("strength"))
      .orderBy(col("strength").desc, col("u"), col("v"))
      .limit(k)

  val localBridgesSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |f AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |d AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |      FROM f GROUP BY u),
      |cm AS (
      |  SELECT e.u, e.v
      |  FROM e JOIN f fu ON fu.u = e.u JOIN f fv ON fv.u = e.v
      |    AND fv.v = fu.v
      |  GROUP BY e.u, e.v),
      |br AS (
      |  SELECT e.u, e.v, du.deg AS du, dv.deg AS dv,
      |    du.deg * dv.deg AS strength,
      |    row_number() OVER (ORDER BY du.deg * dv.deg DESC, e.u, e.v)
      |      AS rnk
      |  FROM e
      |  JOIN d du ON du.node = e.u
      |  JOIN d dv ON dv.node = e.v
      |  LEFT JOIN cm ON cm.u = e.u AND cm.v = e.v
      |  WHERE cm.u IS NULL)
      |SELECT u, v, du, dv, strength FROM br WHERE rnk <= 20
      |ORDER BY strength DESC, u, v""".stripMargin

  // --- HITS hub/authority walk counts ----------------------------------------
  /** Top-20 suppliers by unnormalized HITS authority after two
    * mutual-reinforcement rounds over the DIRECTED customer→supplier
    * purchase graph (Kleinberg, JACM 1999): a₁(s) = |customers of s|,
    * h₁(c) = Σ_{s bought by c} a₁(s), a₂(s) = Σ_{c buying s} h₁(c) —
    * exact BIGINT walk counts (the iterates before normalization,
    * which only rescales the ranking), so parity is structural like
    * [[katzWalks]]. A supplier scores high when it serves customers
    * who also buy from other well-connected suppliers — the
    * bipartite "good hubs point at good authorities" read, distinct
    * from raw in-degree (a₁ is reported beside a₂ so the
    * reinforcement effect is visible).
    *
    * Plan: the directed edge set is one distinct projection of
    * orders ⨝ lineitem; each HITS half-step is ONE join of the edge
    * table against the node-sized previous vector (broadcast or
    * SHUFFLE_HASH per `broadcastAdj`) + one aggregation — the
    * [[katzWalks]] hop shape on the directed graph. Vectors
    * materialized once per consumer fan-out.
    */
  def hitsWalks(s: SparkSession, dir: String, k: Int = 20,
                broadcastAdj: Boolean = true): DataFrame = {
    // the directed bipartite edge set rides the same conf-gated shared
    // cache as tradeEdges/copurchaseEdges (kind "bipartite"), and the
    // three vector consumers below fan out, so default-materialize
    val edges = bipartiteEdges(s, dir)
    val side = adjSide(broadcastAdj)
    val a1 = Graft.materialize(
      edges.groupBy(col("sup")).agg(count(lit(1)).as("a1")))
    val h1 = edges
      .join(side(a1.select(col("sup").as("s1"), col("a1"))),
        col("sup") === col("s1"))
      .groupBy(col("c")).agg(sum(col("a1")).as("h1"))
    val a2 = edges
      .join(side(h1.select(col("c").as("c1"), col("h1"))),
        col("c") === col("c1"))
      .groupBy(col("sup")).agg(sum(col("h1")).as("a2"))
    a1.join(side(a2), Seq("sup"))
      .select(col("sup").as("suppkey"), col("a1"), col("a2"))
      .orderBy(col("a2").desc, col("suppkey"))
      .limit(k)
  }

  val hitsWalksSql: String =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |a1 AS (SELECT sup, CAST(COUNT(*) AS BIGINT) AS a1
      |       FROM e GROUP BY sup),
      |h1 AS (SELECT e.c, CAST(SUM(a1.a1) AS BIGINT) AS h1
      |       FROM e JOIN a1 ON a1.sup = e.sup GROUP BY e.c),
      |a2 AS (SELECT e.sup, CAST(SUM(h1.h1) AS BIGINT) AS a2
      |       FROM e JOIN h1 ON h1.c = e.c GROUP BY e.sup),
      |r AS (
      |  SELECT a1.sup, a1.a1, a2.a2,
      |    row_number() OVER (ORDER BY a2.a2 DESC, a1.sup) AS rnk
      |  FROM a1 JOIN a2 ON a2.sup = a1.sup)
      |SELECT sup AS suppkey, a1, a2 FROM r WHERE rnk <= 20
      |ORDER BY a2 DESC, suppkey""".stripMargin

  // --- rich-club coefficient ---------------------------------------------------
  /** Rich-club coefficient profile of the co-purchase graph (Zhou &
    * Mondragón, IEEE Comm. Lett. 2004; normalization discussion in
    * Colizza et al., Nature Physics 2006): for every degree threshold
    * k present in the graph, φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)) —
    * the edge density among the "rich" nodes of degree > k. A rising
    * φ(k) means hubs preferentially interconnect (the rich-club
    * effect), the structural complement of [[assortativity]]'s
    * one-number correlation and [[degreeHistogram]]'s marginal view.
    *
    * Exactness: an edge survives threshold k iff min(du, dv) > k, so
    * E_{>k} and N_{>k} are SUFFIX SUMS of two exact integer
    * histograms; N·(N−1) stays below 2^53 as long as the graph has
    * under ~9.5e7 rich nodes per threshold (noted bound — past that
    * the φ division needs a decimal restate), and φ is one IEEE
    * division.
    *
    * Shape: edge list → node degrees (hash agg) → two histograms: node
    * degrees, and edge min-degrees (the degree join is node-keyed —
    * size-chosen broadcast at small SF, plain hash join at scale; the
    * adjacency itself is never materialized). The suffix sums ride ONE
    * global window over the DISTINCT-DEGREE histogram grid (≤ max
    * degree rows, ~hundreds — the PlanAuditSpec-allowlisted bounded
    * class), so nothing growing ever funnels to one partition.
    */
  def richClub(s: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(s, dir)
    val deg = e.select(col("u").as("n"))
      .unionByName(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val nodeHist = deg.groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    val edgeHist = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(least(col("du"), col("dv")).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_edges"))
    val w = Window.orderBy(col("deg").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    nodeHist.join(edgeHist, Seq("deg"), "left_outer")
      .select(col("deg"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .select(col("deg").as("k"),
        coalesce(sum(col("n_nodes")).over(w), lit(0L)).as("n_nodes_gt"),
        coalesce(sum(col("n_edges")).over(w), lit(0L)).as("n_edges_gt"))
      .select(col("k"), col("n_nodes_gt"), col("n_edges_gt"),
        when(col("n_nodes_gt") >= 2L,
          lit(2.0) * col("n_edges_gt").cast("double")
            / (col("n_nodes_gt") * (col("n_nodes_gt") - 1L)).cast("double"))
          .otherwise(lit(null).cast("double")).as("phi"))
      .orderBy(col("k"))
  }

  val richClubSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |               FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
      |  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
      |  GROUP BY n),
      |nh AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |       FROM deg GROUP BY deg),
      |eh AS (
      |  SELECT LEAST(du.deg, dv.deg) AS deg,
      |         CAST(COUNT(*) AS BIGINT) AS n_edges
      |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
      |  GROUP BY 1),
      |grid AS (
      |  SELECT nh.deg, nh.n_nodes, COALESCE(eh.n_edges, 0) AS n_edges
      |  FROM nh LEFT JOIN eh ON eh.deg = nh.deg),
      |sfx AS (
      |  SELECT deg AS k,
      |    CAST(COALESCE(SUM(n_nodes) OVER w, 0) AS BIGINT) AS n_nodes_gt,
      |    CAST(COALESCE(SUM(n_edges) OVER w, 0) AS BIGINT) AS n_edges_gt
      |  FROM grid
      |  WINDOW w AS (ORDER BY deg DESC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT k, n_nodes_gt, n_edges_gt,
      |  CASE WHEN n_nodes_gt >= 2 THEN
      |    2.0 * CAST(n_edges_gt AS DOUBLE)
      |      / CAST(n_nodes_gt * (n_nodes_gt - 1) AS DOUBLE)
      |  ELSE NULL END AS phi
      |FROM sfx ORDER BY k""".stripMargin
}
