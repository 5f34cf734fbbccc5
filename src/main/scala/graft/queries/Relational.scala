package graft.queries

import graft.{Graft, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface over the TPC-H-ish driver test data:
  * scans, filters, projections, joins (inner/left/semi/anti, broadcast),
  * aggregations (group-by / cube / rollup / distinct), windows
  * (ranking / frames / lag), set operations, sort + limit.
  *
  * The reference (sabogal9988/parcial-BigData) has exactly one query —
  * projection + inclusive interval filter + asc sort over a two-column
  * table (/root/reference/main.py:69-74); see IntervalQuery for its
  * exact semantics. Everything here is the declared extended surface
  * (SURVEY.md §2.E, §7.2 step 3).
  *
  * Determinism discipline (needed for byte-exact DuckDB oracle compare):
  *   - SUM over doubles goes through DECIMAL(18,6): cast is identical in
  *     both engines for non-midpoint values, decimal addition is exact and
  *     order-independent, final CAST(.. AS DOUBLE) is exact. Plain double
  *     sums would differ in the last bits because partial-aggregation
  *     order is nondeterministic.
  *   - AVG is expressed as CAST(dec_sum AS DOUBLE) / COUNT (IEEE division
  *     of identical inputs, never each engine's own avg()).
  *   - MIN/MAX/COUNT on native types are order-independent — used as-is.
  *   - Every query ends in a total ORDER BY with a unique tiebreak.
  *
  * Scale notes (100 TB posture):
  *   - dimension sides (region 5 rows, nation 25, filtered customer) are
  *     broadcast explicitly — no shuffle of the fact table for those joins;
  *   - aggregations are partial (map-side combine) by construction;
  *   - filters/projections sit directly on the parquet scan so Catalyst
  *     pushes them down (verified via .explain in RelationalSpec).
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  import Exact.{dec, dsum}

  private val ONE = lit(1.0)

  // --- Q1: pricing summary (TPC-H Q1 shape) -------------------------------
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (ONE - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (ONE - col("l_discount")) * (ONE + col("l_tax")))
          .as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      | COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- Q3: top revenue orders for a market segment -------------------------
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    // customer scales with SF, so no forced broadcast: the static planner
    // (file-size stats) or AQE (runtime stats) picks broadcast while the
    // filtered side fits, and degrades to a shuffle join beyond that —
    // the right behavior at 100 TB where customer is a fact-sized table.
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (ONE - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q3TopRevenueSql: String =
    """SELECT o_orderkey, o_orderdate,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      | JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // --- Q5: revenue by nation within a region ------------------------------
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val cu = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    // region (5 rows) and nation (25 rows) are bounded by geography —
    // broadcast them explicitly. supplier/customer scale with SF, so
    // their join strategy is left to the planner/AQE (broadcast while
    // small, shuffle at 100 TB).
    val dimNation = broadcast(n.join(broadcast(r), col("n_regionkey") === col("r_regionkey")))
    val factO = o.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
    l.join(factO, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(cu, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(dimNation, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (ONE - col("l_discount"))).as("revenue"))
      .orderBy(col("n_name"))
  }

  val q5LocalSupplierSql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      | AND r_name = 'ASIA'
      | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // --- Q7: volume shipping between two nations -----------------------------
  /** TPC-H Q7 shape: bilateral trade volume between two named nations by
    * ship year. The two nation lookups are the same 25-row table joined
    * twice under different roles (supplier's nation, customer's nation) —
    * both broadcast, so the three fact-table joins are the only
    * exchanges. The OR of the two direction pairs is applied AFTER both
    * nation joins resolve (it needs both names), but each nation join
    * itself pre-filters to the two named nations, so the fact rows that
    * survive to the OR are already nation-pruned.
    */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(t(s, dir, "nation")
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t(s, dir, "nation")
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (ONE - col("l_discount"))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7VolumeShippingSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      | CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |    l_extendedprice * (1.0 - l_discount) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // --- Q8: national market share within a region ---------------------------
  /** TPC-H Q8 shape: NATION_3's share of PROMO-part revenue sold into
    * ASIA, by order year. The numerator/denominator are two conditional
    * sums over the same joined fact rows — one aggregation pass, no
    * second scan. part is filtered before the join (predicate pushed to
    * its scan) and the geography dims are broadcast; the share division
    * happens on the two exact decimal sums after they're cast to
    * double, so both engines divide bit-identical inputs.
    */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val rg = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val custNation = broadcast(t(s, dir, "nation")
      .join(broadcast(rg), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk")))
    val suppNation = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val promo = t(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val vol = col("l_extendedprice") * (ONE - col("l_discount"))
    t(s, dir, "lineitem")
      .join(promo, col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi)),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(custNation, col("c_nationkey") === col("c_nk"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0)))
          .as("nation_volume"),
        dsum(vol).as("total_volume"))
      .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String =
    """WITH v AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    l_extendedprice * (1.0 - l_discount) AS volume,
      |    n2.n_name AS supp_nation
      |  FROM part, lineitem, orders, customer, supplier,
      |       nation n1, region, nation n2
      |  WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
      |    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
      |    AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |    AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
      |    AND p_type = 'PROMO'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |SELECT o_year,
      | CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END
      |   AS DECIMAL(18,6))) AS DOUBLE) AS nation_volume,
      | CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS total_volume,
      | CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END
      |   AS DECIMAL(18,6))) AS DOUBLE)
      |   / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
      |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin

  // --- Q10: returned-item reporting ----------------------------------------
  /** TPC-H Q10 shape: top-20 customers by revenue lost to returns in one
    * quarter. The quarter filter prunes orders at its scan; returnflag
    * prunes lineitem at its scan; nation is broadcast. The top-20 is a
    * global sort-limit over the customer-grained aggregate — TakeOrdered
    * on partials, never a full sort of the aggregate.
    */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-04-01 00:00:00")
    val nat = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name")))
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi)),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (ONE - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnedItemsSql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      | AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      | AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // --- Q14: promotion revenue ratio ----------------------------------------
  /** TPC-H Q14 shape: PROMO parts' percentage of one ship-month's
    * revenue. One fact scan (month filter pushed down), part joined on
    * its key with only (p_partkey, p_type) read, and a single
    * aggregation producing both conditional and total sums — the
    * percentage is IEEE division of two exact decimal sums, identical
    * in both engines.
    */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("1996-09-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1996-10-01 00:00:00")
    val vol = col("l_extendedprice") * (ONE - col("l_discount"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0)))
          .as("promo_volume"),
        dsum(vol).as("total_volume"))
      .withColumn("promo_revenue_pct",
        lit(100.0) * col("promo_volume") / col("total_volume"))
  }

  val q14PromoRevenueSql: String =
    """SELECT
      | CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |   THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
      |   AS DECIMAL(18,6))) AS DOUBLE) AS promo_volume,
      | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |   AS DECIMAL(18,6))) AS DOUBLE) AS total_volume,
      | 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |   THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
      |   AS DECIMAL(18,6))) AS DOUBLE)
      |   / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |   AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue_pct
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      | AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      | AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin

  // --- Q18: large-volume orders --------------------------------------------
  /** TPC-H Q18 shape: orders whose total line quantity clears a large
    * threshold, with their customer. The HAVING aggregate runs first and
    * produces a tiny qualifying set (top ~0.1% of orders); joining it
    * back to orders/customer is then broadcast-sized under AQE. The
    * quantity sum is exact decimal, so the threshold cut is
    * engine-identical even at the boundary.
    */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > lit(300.0))
    big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18LargeOrdersSql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
      |FROM (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 300.0) big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // --- joins ----------------------------------------------------------------
  def joinBroadcastDim(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))
  }

  val joinBroadcastDimSql: String =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey""".stripMargin

  def joinLeftOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  val joinLeftOuterSql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      | COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Customers with at least one finished ('F') order — left-semi join. */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Customers with no finished order — left-anti join. */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // --- aggregations ----------------------------------------------------------
  def aggOrdersByPriority(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"))
      .orderBy(col("o_orderpriority"))
  }

  val aggOrdersByPrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      | MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
      | MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  def aggCube(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  val aggCubeSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  def aggRollup(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.rollup(year(col("o_orderdate")).cast("long").as("order_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(asc_nulls_first("order_year"), asc_nulls_first("o_orderpriority"))
  }

  val aggRollupSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderpriority,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY ROLLUP (CAST(year(o_orderdate) AS BIGINT), o_orderpriority)
      |ORDER BY order_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  def aggCountDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val aggCountDistinctSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      | COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** approx_count_distinct (HLL++) — sketch output is engine-specific, so
    * no SQL oracle; correctness is bounded-error vs exact in the spec.
    */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
      .orderBy(col("l_returnflag"))
  }

  /** Structural-oracle audit of [[aggApproxDistinct]] (the CDC-chunk
    * pattern): the HLL++ register state is engine-specific, but the
    * estimate carries a published error envelope — rsd 0.01 here, so
    * |est − exact| ≤ 5·rsd·exact is a ≥5σ bound a correct sketch
    * essentially never leaves — and the exact count is recomputable.
    * The oracle hash-checks the exact distinct counts per group and
    * pins the envelope-violation counter to 0; the numeric estimate
    * stays the RelationalSpec-bounded [[aggApproxDistinct]] API.
    *
    * Scale: the exact leg is one distinct-combine per group (the
    * `agg_count_distinct` shape); the sketch leg is fixed-size
    * mergeable state; the join is on the ≤|flags| grid.
    */
  def aggApproxDistinctAudit(s: SparkSession, dir: String): DataFrame = {
    val approx = aggApproxDistinct(s, dir)
    val exact = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts_exact"))
    exact.join(approx, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_parts_exact"),
        when(abs(col("approx_parts") - col("n_parts_exact")).cast("double")
          > lit(0.05) * col("n_parts_exact").cast("double"), 1L)
          .otherwise(0L).as("envelope_violations"))
      .orderBy(col("l_returnflag"))
  }

  val aggApproxDistinctAuditSql: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
      |  CAST(0 AS BIGINT) AS envelope_violations
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def aggMinMaxByBrand(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    // floor() explicitly: CAST(double AS BIGINT) truncates in Spark but
    // rounds in DuckDB — floor makes both agree.
    p.groupBy(col("p_brand"), floor(col("p_size") / lit(10)).cast("long").as("size_bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("p_retailprice")).as("min_price"),
        max(col("p_retailprice")).as("max_price"))
      .orderBy(col("p_brand"), col("size_bucket"))
  }

  val aggMinMaxByBrandSql: String =
    """SELECT p_brand, CAST(FLOOR(p_size / 10) AS BIGINT) AS size_bucket, COUNT(*) AS n,
      | MIN(p_retailprice) AS min_price, MAX(p_retailprice) AS max_price
      |FROM part GROUP BY p_brand, CAST(FLOOR(p_size / 10) AS BIGINT)
      |ORDER BY p_brand, size_bucket""".stripMargin

  /** GROUPING SETS — the general form behind cube/rollup; the DataFrame
    * API only exposes the latter two, so this goes through spark.sql over
    * a temp view (the other declarative entry point of the engine).
    */
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val view = s"orders_gs_${java.lang.Integer.toHexString(dir.hashCode)}"
    t(s, dir, "orders").createOrReplaceTempView(view)
    s.sql(
      s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
         |FROM $view
         |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
         |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin)
  }

  val aggGroupingSetsSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin

  /** Exact interpolated percentiles (Spark `percentile` == SQL-standard
    * PERCENTILE_CONT == DuckDB quantile_cont: sort + linear
    * interpolation at (n-1)*p — same IEEE arithmetic both engines).
    */
  def aggMedianPrice(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy(col("o_orderpriority"))
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("median_price"),
        percentile(col("o_totalprice"), lit(0.9)).as("p90_price"))
      .orderBy(col("o_orderpriority"))
  }

  val aggMedianPriceSql: String =
    """SELECT o_orderpriority,
      | quantile_cont(o_totalprice, 0.5) AS median_price,
      | quantile_cont(o_totalprice, 0.9) AS p90_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Pivot (one output column per o_orderstatus value) via the DataFrame
    * pivot API with an explicit value list — explicit values keep the
    * plan a single pass (no extra distinct-values job) and make the
    * output schema static, which is what you want at scale.
    */
  def pivotStatusCounts(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))
  }

  val pivotStatusCountsSql: String =
    """SELECT o_orderpriority,
      | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      | COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Ordered string aggregation: nations per region as a sorted
    * comma-joined list (sort_array(collect_list) keeps the result
    * deterministic regardless of partial-aggregation order).
    */
  def aggNationsByRegion(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("r_name"))
  }

  val aggNationsByRegionSql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // --- windows ---------------------------------------------------------------
  def windowRankOrders(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  val windowRankOrdersSql: String =
    """SELECT * FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      | FROM orders) q
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // --- set operations --------------------------------------------------------
  def setopUnion(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.union(su).distinct().orderBy(col("nationkey"))
  }

  val setopUnionSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin

  def setopIntersect(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.intersect(su).orderBy(col("nationkey"))
  }

  val setopIntersectSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin

  def setopExcept(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.except(su).orderBy(col("nationkey"))
  }

  val setopExceptSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin

  // --- sort / limit / scan shape ---------------------------------------------
  def topkOrders(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  val topkOrdersSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Filter + projection that must reach the parquet scan (pushdown check
    * lives in RelationalSpec).
    */
  def scanFilterProject(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-03-01 00:00:00")
    li.filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val scanFilterProjectSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // --- subqueries (SQL front-end; Catalyst decorrelation) --------------------
  /** Correlated/scalar subqueries exercised through `spark.sql` — the
    * DataFrame DSL cannot spell a correlated EXISTS, and the value here
    * is Catalyst's DECORRELATION: EXISTS plans as a left-semi join,
    * NOT EXISTS as a left-anti join, and the scalar subquery as a
    * broadcast one-row join (asserted in RelationalSpec) — never a
    * per-row re-execution of the inner query, which is what makes
    * correlated predicates survive at fact-table scale.
    */
  /** Registers per-sfDir-named temp views and rewrites the SQL to use
    * them: view names carry the data directory's identity, so two
    * concurrent builders over DIFFERENT sfDirs register different names
    * instead of clobbering a shared one (same-dir re-registration is
    * idempotent) — the temp-view analogue of the no-session-conf-in-
    * builders rule (see Tables.events).
    */
  private def sqlOver(s: SparkSession, dir: String, sql: String): DataFrame = {
    val tag = java.lang.Integer.toHexString(dir.hashCode)
    t(s, dir, "customer").createOrReplaceTempView(s"sq_customer_$tag")
    t(s, dir, "orders").createOrReplaceTempView(s"sq_orders_$tag")
    t(s, dir, "part").createOrReplaceTempView(s"sq_part_$tag")
    t(s, dir, "lineitem").createOrReplaceTempView(s"sq_lineitem_$tag")
    s.sql(sql
      .replace("sq_customer", s"sq_customer_$tag")
      .replace("sq_orders", s"sq_orders_$tag")
      .replace("sq_part", s"sq_part_$tag")
      .replace("sq_lineitem", s"sq_lineitem_$tag"))
  }

  def subqueryExists(s: SparkSession, dir: String): DataFrame =
    sqlOver(s, dir,
      """SELECT c_custkey, c_name FROM sq_customer c
        |WHERE EXISTS (SELECT 1 FROM sq_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)

  val subqueryExistsSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  def subqueryNotExists(s: SparkSession, dir: String): DataFrame =
    sqlOver(s, dir,
      """SELECT c_custkey, c_name FROM sq_customer c
        |WHERE NOT EXISTS (SELECT 1 FROM sq_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)

  val subqueryNotExistsSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Scalar subquery; the global average goes through the decimal-sum /
    * count spelling so both engines compute the identical threshold
    * (class doc determinism discipline).
    */
  def subqueryScalarAvg(s: SparkSession, dir: String): DataFrame =
    sqlOver(s, dir,
      """SELECT o_orderkey, o_totalprice FROM sq_orders
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |           / COUNT(*) FROM sq_orders)
        |ORDER BY o_orderkey""".stripMargin)

  val subqueryScalarAvgSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
      |           / COUNT(*) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** IN-subquery (uncorrelated): parts that shipped in a high-quantity
    * lineitem. Catalyst plans the IN as a left-semi join on
    * `p_partkey = l_partkey` — the subquery side is aggregated to its
    * distinct keys and shuffled once; never a per-row membership probe.
    */
  def subqueryIn(s: SparkSession, dir: String): DataFrame =
    sqlOver(s, dir,
      """SELECT p_brand, COUNT(*) AS n_parts FROM sq_part
        |WHERE p_partkey IN (SELECT l_partkey FROM sq_lineitem
        |                    WHERE l_quantity >= 45)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)

  val subqueryInSql: String =
    """SELECT p_brand, COUNT(*) AS n_parts FROM part
      |WHERE p_partkey IN (SELECT l_partkey FROM lineitem
      |                    WHERE l_quantity >= 45)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** NOT IN subquery — three-valued NULL semantics: one NULL in the
    * subquery result empties the output, so Spark must plan a
    * null-aware anti join, which it only executes as a BROADCAST
    * (`NullAwareAntiJoin` requires the build side in memory).
    *
    * Scale note (100 TB): this is the one anti-join spelling that
    * CANNOT shuffle — a large subquery side OOMs the build. Prefer
    * NOT EXISTS ([[subqueryNotExists]], a shuffleable left-anti join)
    * unless NULL-propagation semantics are actually wanted. This query
    * documents the semantic/planning difference on purpose.
    */
  def subqueryNotIn(s: SparkSession, dir: String): DataFrame =
    sqlOver(s, dir,
      """SELECT c_custkey, c_name FROM sq_customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM sq_orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)

  val subqueryNotInSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // --- full outer join -------------------------------------------------------
  /** Per-nation BUILDING-segment customer count vs supplier count,
    * keeping nations present on either side only.
    *
    * Scale note: full-outer cannot broadcast (both sides must surface
    * unmatched rows), so the inputs are aggregated FIRST — each side
    * shrinks to ≤ |nation| rows before the join, making the unavoidable
    * full-outer shuffle trivial. Joining the raw tables full-outer and
    * aggregating after would shuffle the whole fact data.
    */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey").as("nk_c"))
      .agg(count(lit(1)).as("n_building_cust"))
    val su = t(s, dir, "supplier")
      .groupBy(col("s_nationkey").as("nk_s"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(su, col("nk_c") === col("nk_s"), "full_outer")
      .select(
        coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_building_cust"), lit(0L)).as("n_building_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val joinFullOuterSql: String =
    """SELECT COALESCE(c.nk, s.nk) AS nationkey,
      | COALESCE(c.n_building_cust, 0) AS n_building_cust,
      | COALESCE(s.n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_building_cust
      |      FROM customer WHERE c_mktsegment = 'BUILDING'
      |      GROUP BY c_nationkey) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
      |                 FROM supplier GROUP BY s_nationkey) s
      |ON c.nk = s.nk
      |ORDER BY nationkey""".stripMargin

  // --- distribution window functions -----------------------------------------
  /** ntile / percent_rank / cume_dist / lead over orders, partitioned by
    * priority. The window ORDER BY carries a unique tiebreak
    * (o_orderkey), so rank-family outputs are deterministic and the
    * oracle can hash-match them. One hash exchange on o_orderpriority +
    * an in-partition sort — same shape both engines.
    */
  def windowDistribution(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
  }

  val windowDistributionSql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      | CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      | PERCENT_RANK() OVER w AS pct_rank,
      | CUME_DIST() OVER w AS cum_dist,
      | LEAD(o_totalprice, 1) OVER w AS next_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin

  // --- calendar rollup -------------------------------------------------------
  /** Monthly revenue rollup: date_trunc both engines share. The month
    * key is low-cardinality, so the aggregate is one map-side-combined
    * shuffle of |months| rows per task — the canonical time-rollup
    * shape that survives any fact-table size.
    */
  def aggMonthlyRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    // Spark's date_trunc returns TIMESTAMP while DuckDB's (on a DATE
    // input) returns DATE — cast to DATE so the bucket type matches the
    // oracle at the Arrow level, not just after value coercion.
    o.groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(
        dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("month"))
  }

  val aggMonthlyRevenueSql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  // --- column profiling ------------------------------------------------------
  /** Data-profiling sweep over orders: per-column null count + exact
    * distinct count, emitted as one row per column. Computed in ONE
    * scan: the multi-distinct aggregate (Catalyst's Expand) plus a
    * `stack` unpivot of the single result row — never one scan per
    * column.
    *
    * Scale note: Expand replicates each input row once per DISTINCT
    * aggregate (3× here) before the shuffle; at 100 TB swap the exact
    * distincts for approx_count_distinct (see `agg_approx_distinct`)
    * and keep the same one-pass shape.
    */
  def profileColumns(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("d_cust"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_cust"),
        countDistinct(col("o_orderstatus")).as("d_status"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("n_status"),
        countDistinct(col("o_orderpriority")).as("d_prio"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("n_prio"))
      .select(expr(
        """stack(3,
          |  'o_custkey',       d_cust,   n_cust,   n_rows,
          |  'o_orderpriority', d_prio,   n_prio,   n_rows,
          |  'o_orderstatus',   d_status, n_status, n_rows
          |) AS (col_name, n_distinct, n_nulls, n_rows)""".stripMargin))
      .orderBy(col("col_name"))
  }

  // --- order cycle time ------------------------------------------------------
  /** Fulfillment cycle time per order priority: days from order date to
    * the order's LAST line shipment, aggregated per priority (avg as
    * exact decimal-sum / count, max, and order count). The inner
    * aggregation collapses lineitem to one (orderkey, last_ship) row
    * BEFORE the orders join — at 100 TB that's the difference between
    * joining 600 M orders against 6 B lines and against 600 M
    * pre-reduced rows, and the date math (`datediff` on day grain) is
    * exact integer arithmetic in both engines, so the averages
    * hash-match without fp discipline.
    */
  def orderCycleTime(s: SparkSession, dir: String): DataFrame = {
    val lastShip = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("last_ship"))
    t(s, dir, "orders")
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("last_ship"), col("o_orderdate")).as("days"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        (sum(col("days").cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("avg_days"),
        max(col("days")).cast("long").as("max_days"))
      .orderBy(col("o_orderpriority"))
  }

  val orderCycleTimeSql: String =
    """WITH ls AS (
      |  SELECT l_orderkey, MAX(l_shipdate) AS last_ship
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(datediff('day', o_orderdate, last_ship) AS DECIMAL(18,6)))
      |   AS DOUBLE) / COUNT(*) AS avg_days,
      | CAST(MAX(datediff('day', o_orderdate, last_ship)) AS BIGINT) AS max_days
      |FROM orders JOIN ls ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --- table integrity checksums --------------------------------------------
  /** Order-independent content checksums per table — the cross-replica /
    * cross-migration divergence detector: two copies of a 100 TB table
    * agree iff three numbers agree, computed in ONE scan each with
    * nothing but (count, 8-byte xor, 8-byte sum) crossing the shuffle
    * as a map-side partial. Each row canonicalizes to
    * md5(col₁|col₂|…) → first 60 bits as a BIGINT; the table digest is
    * both its BIT_XOR (cheap, but pairs of identical rows cancel) and
    * the SUM of the hash reduced mod a 20-bit prime (multiset-
    * sensitive; 2^20 · 10^12 rows = 2^60 still fits BIGINT, so the
    * digest stays 64-bit-exact at a trillion rows), so the pair
    * detects both reorderings (neither cares) and duplications (the
    * sum catches what xor cancels).
    *
    * Portability contract (the r7 red row): the hex→int conversion is
    * spelled as POSITIONAL ARITHMETIC — 15 × `instr('0123456789abcdef',
    * substr(m,i,1)) - 1` scaled by 16^(15-i) — because every engine
    * defines instr, substr and integer multiply identically, whereas
    * `CAST('0x'||… AS
    * BIGINT)` is a nonstandard cast path that DuckDB versions resolve
    * differently, and SUM(BIGINT)→HUGEINT→DECIMAL(38,0) narrowing is
    * another per-version seam. Nothing here leaves BIGINT. NULLs hash
    * explicitly via a per-column sentinel (coalesce both legs), so
    * ('a',NULL,'b') and ('a','b',NULL) digest differently.
    *
    * Column choice sticks to integer/string/timestamp columns whose
    * text rendering is engine-identical — doubles are excluded because
    * the two engines' float formatting differs (the hash discipline
    * everywhere else in this repo; digests must disagree only when DATA
    * disagrees).
    */
  private val checksumTables: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
    "documents" -> Seq("doc_id", "lang", "source", "n_chars"))

  /** 20-bit prime bounding the per-row sum contribution (see above). */
  private val ChecksumSumPrime = 1048573L

  def integrityChecksum(s: SparkSession, dir: String): DataFrame = {
    def leg(tbl: String, cols: Seq[String]): DataFrame = {
      val cat = concat_ws("|",
        cols.map(c => coalesce(col(c).cast("string"), lit("<NULL>"))): _*)
      val h = hexValueCol("m")
      t(s, dir, tbl).select(md5(cat).as("m"))
        .select(h.as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_checksum"),
          sum(col("h") % lit(ChecksumSumPrime)).as("sum_checksum"))
        .select(lit(tbl).as("tbl"), col("n_rows"), col("xor_checksum"),
          col("sum_checksum"))
    }
    checksumTables.map((leg _).tupled).reduce(_ unionAll _).orderBy(col("tbl"))
  }

  val integrityChecksumSql: String = {
    def leg(tbl: String, cols: Seq[String]): String = {
      val cat = cols.map(c => s"COALESCE(CAST($c AS VARCHAR), '<NULL>')")
        .mkString(" || '|' || ")
      val hTerms = PortableSql.hexValue("m", 15)
      s"""SELECT '$tbl' AS tbl, COUNT(*) AS n_rows,
         | BIT_XOR(h) AS xor_checksum,
         | CAST(SUM(h % $ChecksumSumPrime) AS BIGINT) AS sum_checksum
         |FROM (SELECT $hTerms AS h
         |      FROM (SELECT md5($cat) AS m FROM $tbl))""".stripMargin
    }
    checksumTables.map((leg _).tupled)
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
  }

  val profileColumnsSql: String =
    """SELECT 'o_custkey' AS col_name, COUNT(DISTINCT o_custkey) AS n_distinct,
      | COUNT(*) - COUNT(o_custkey) AS n_nulls, COUNT(*) AS n_rows FROM orders
      |UNION ALL
      |SELECT 'o_orderpriority', COUNT(DISTINCT o_orderpriority),
      | COUNT(*) - COUNT(o_orderpriority), COUNT(*) FROM orders
      |UNION ALL
      |SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus),
      | COUNT(*) - COUNT(o_orderstatus), COUNT(*) FROM orders
      |ORDER BY col_name""".stripMargin

  // --- fuzzy string-similarity join ------------------------------------------
  /** Blocked fuzzy self-match over part names: distinct names are
    * blocked on their last word (the noun in "adj noun"), and
    * Levenshtein runs only within a block — the standard entity-
    * resolution shape. Unblocked pairwise distance is O(n²) and never
    * shipped; the block key bounds each comparison group.
    */
  def joinFuzzyName(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "part")
      .select(col("p_name").as("name"))
      .distinct()
      .withColumn("block", substring_index(col("name"), " ", -1))
    val a = names.select(col("block"), col("name").as("name_a"))
    val b = names.select(col("block").as("block_b"), col("name").as("name_b"))
    a.join(b, col("block") === col("block_b") && col("name_a") < col("name_b"))
      .select(
        col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .filter(col("dist") <= 4)
      .orderBy(col("name_a"), col("name_b"))
  }

  val joinFuzzyNameSql: String =
    """WITH n AS (SELECT DISTINCT p_name AS name,
      |  string_split(p_name, ' ')[-1] AS block FROM part)
      |SELECT a.name AS name_a, b.name AS name_b,
      | CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |FROM n a JOIN n b ON a.block = b.block AND a.name < b.name
      |WHERE levenshtein(a.name, b.name) <= 4
      |ORDER BY name_a, name_b""".stripMargin

  // --- deletion-neighborhood typo pairs (FastSS) ------------------------------
  /** Vocabulary typo-pair detection with GUARANTEED-complete candidate
    * generation (Bočka/Hunt FastSS family — Bocek, Hunt & Stiller,
    * "Fast Similarity Search in Large Dictionaries", 2007): two tokens
    * are within edit distance 1 only if they share a string in their
    * deletion neighborhood ∪ {self} (a deletion hits the deleted char,
    * an insertion hits the other side's deletion, a substitution hits
    * the same-position deletions) — so an equi-join on that signature
    * finds EVERY candidate, unlike [[joinFuzzyName]]'s last-word
    * blocking heuristic, and a codegen'd `levenshtein` verifies the
    * superset down to the true pairs. The vocabulary here is the
    * part-name + part-type word set with corpus counts (the
    * frequency-asymmetric pair — rare token vs frequent neighbor — is
    * the classic typo-repair signal in data curation).
    *
    * Scale shape: the corpus collapses to a (token, count) VOCABULARY
    * first (one hash aggregation — the BPE-training posture), variants
    * are a narrow ≤|token|+1-fold explode of vocabulary rows, the
    * candidate join is hash-keyed on the signature (never all-pairs:
    * DedupSpec pins no-cartesian), and the verify filter is a
    * per-candidate codegen'd DP. Everything past the first aggregation
    * is vocabulary-sized, not corpus-sized. One skew caveat the
    * signature scheme carries: VERY short tokens share tiny deletion
    * neighborhoods (every 1-char token's neighborhood contains the
    * empty string, so they all land in ONE signature bucket and the
    * join goes quadratic in their count) — tokens under 2 chars are
    * filtered out up front, which also matches the typo-repair intent
    * (an edit on a 1-char token is a different word, not a typo).
    */
  def typoPairs(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "part")
      .select(explode(concat(split(col("p_name"), " "),
        split(col("p_type"), " "))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val variants = v.select(col("tok"), col("c"), explode(expr(
      """array_union(
        |  transform(sequence(1, length(tok)),
        |    i -> concat(substring(tok, 1, i - 1),
        |                substring(tok, i + 1, length(tok) - i))),
        |  array(tok))""".stripMargin)).as("sig"))
    val a = variants
      .select(col("sig"), col("tok").as("tok_a"), col("c").as("n_a"))
    val b = variants
      .select(col("sig"), col("tok").as("tok_b"), col("c").as("n_b"))
    a.join(b, Seq("sig"))
      .filter(col("tok_a") < col("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("n_a"), col("n_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")).cast("long"))
      .filter(col("dist") <= 1)
      .orderBy(col("tok_a"), col("tok_b"))
  }

  val typoPairsSql: String =
    """WITH toks AS (
      |  SELECT list_concat(string_split(p_name, ' '),
      |                     string_split(p_type, ' ')) AS ws
      |  FROM part),
      |v AS (
      |  SELECT w AS tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(ws) AS w FROM toks)
      |  WHERE len(w) >= 2 GROUP BY w),
      |var AS (
      |  SELECT tok, c, unnest(list_distinct(list_append(
      |    list_transform(range(1, len(tok) + 1),
      |      i -> substr(tok, 1, i - 1) || substr(tok, i + 1)), tok))) AS sig
      |  FROM v),
      |cand AS (
      |  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
      |         a.c AS n_a, b.c AS n_b
      |  FROM var a JOIN var b ON a.sig = b.sig AND a.tok < b.tok)
      |SELECT tok_a, tok_b, n_a, n_b,
      |  CAST(levenshtein(tok_a, tok_b) AS BIGINT) AS dist
      |FROM cand WHERE levenshtein(tok_a, tok_b) <= 1
      |ORDER BY tok_a, tok_b""".stripMargin

  // --- ordered list aggregation ----------------------------------------------
  /** Per-region sorted roster of nation names as one string. collect_list
    * is order-NONdeterministic under parallel aggregation, so the sort
    * happens AFTER collection (array_sort) — that, plus the string join,
    * makes the output deterministic and oracle-comparable. Matches
    * DuckDB's string_agg(... ORDER BY ...).
    */
  def aggStringConcat(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
        .as("nations"))
      .orderBy(col("r_name"))
  }

  val aggStringConcatSql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // --- scalar string-function surface ----------------------------------------
  /** The scalar string-function surface in one projection: case
    * mapping, reverse, substring (1-based), replace, pad, multi-arg
    * concat, length. Everything is a codegen'd narrow map over the
    * scan; the functions used here are the cross-engine-identical
    * subset (e.g. no locale-sensitive collation tricks).
    */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        reverse(col("p_name")).as("rname"),
        regexp_replace(col("p_name"), " ", "_").as("sname"),
        lpad(col("p_brand"), 12, "*").as("padded"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
        length(col("p_name")).cast("long").as("n_chars"),
        substring(col("p_name"), 2, 5).as("mid"))
      .orderBy(col("p_partkey"))

  val stringFuncsSql: String =
    """SELECT p_partkey, upper(p_name) AS uname, reverse(p_name) AS rname,
      | replace(p_name, ' ', '_') AS sname, lpad(p_brand, 12, '*') AS padded,
      | concat_ws('|', p_brand, p_type) AS joined,
      | CAST(length(p_name) AS BIGINT) AS n_chars,
      | substr(p_name, 2, 5) AS mid
      |FROM part ORDER BY p_partkey""".stripMargin

  // --- year-over-year growth --------------------------------------------
  /** Monthly revenue with its year-ago comparison and YoY growth — the
    * time-intelligence pattern. The year-ago value comes from a SELF-JOIN
    * on `month = prior_month + 12` rather than `lag(12)`: a lag counts
    * ROWS, so one missing calendar month silently shifts every
    * subsequent comparison to the wrong year, while the join is correct
    * under gaps by construction. The join is month-keyed (dozens of rows
    * per decade) — negligible at any corpus scale; the heavy part stays
    * the one monthly aggregation.
    */
  def aggYoyGrowth(s: SparkSession, dir: String): DataFrame = {
    // month is DATE on both engines: Spark's date_trunc returns
    // TIMESTAMP (cast down), DuckDB's on a DATE input returns DATE.
    // The +12-months shift uses add_months, which is closed over DATE.
    val monthly = t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
    val prior = monthly.select(
      add_months(col("month"), 12).as("month"),
      col("revenue").as("prev_year_revenue"))
    monthly.join(prior, Seq("month"), "left")
      .select(col("month"), col("revenue"), col("prev_year_revenue"),
        ((col("revenue") - col("prev_year_revenue"))
          / col("prev_year_revenue")).as("yoy_growth"))
      .orderBy(col("month"))
  }

  val aggYoyGrowthSql: String =
    """WITH m AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT m.month, m.revenue, p.revenue AS prev_year_revenue,
      |  (m.revenue - p.revenue) / p.revenue AS yoy_growth
      |FROM m LEFT JOIN m p ON m.month = CAST(p.month + INTERVAL 12 MONTH AS DATE)
      |ORDER BY m.month""".stripMargin

  // --- per-group linear regression --------------------------------------
  /** Least-squares slope/intercept of extendedprice vs quantity per
    * returnflag — regression-per-group via the closed form
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), with every sum EXACT:
    * x is integral quantity, y is price in cents, so Σx, Σy, Σxy, Σx²
    * are integers; the cross terms are combined in DECIMAL(38,0)
    * (n·Σxy ~1e19 overflows a long at sf0.1 group sizes; 128-bit
    * integer decimal is exact to 1e38) and only the final division is
    * floating point. The built-in `regr_slope` accumulates in
    * float-order-dependent doubles — fine on a cluster, but not
    * reproducible bit-for-bit across engines, which is the bar here.
    * One partial-aggregated shuffle; nothing else moves.
    */
  def aggRegrSlope(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = t(s, dir, "lineitem").select(
      col("l_returnflag"),
      col("l_quantity").cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val g = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x")).cast(d38).as("sx"),
      sum(col("y")).cast(d38).as("sy"),
      sum(col("x") * col("y")).cast(d38).as("sxy"),
      sum(col("x") * col("x")).cast(d38).as("sxx"))
    g.select(col("l_returnflag"), col("n").cast("long").as("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") * 100.0))
          .as("slope"),
        ((col("sy").cast("double") / 100.0) -
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") * 100.0))
            * col("sx").cast("double"))
          ./(col("n").cast("double")).as("intercept"))
      .orderBy(col("l_returnflag"))
  }

  val aggRegrSlopeSql: String =
    """WITH b AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (
      |  SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM b GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (CAST(n * sxx - sx * sx AS DOUBLE) * 100.0) AS slope,
      |  (CAST(sy AS DOUBLE) / 100.0
      |    - CAST(n * sxy - sx * sy AS DOUBLE)
      |        / (CAST(n * sxx - sx * sx AS DOUBLE) * 100.0)
      |      * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS intercept
      |FROM g ORDER BY l_returnflag""".stripMargin

  // --- RFM customer segmentation ----------------------------------------
  /** Recency/frequency/monetary segmentation: per customer, the three
    * classic metrics quintile-scored with `ntile(5)` (ascending — score
    * 5 = most recent / most frequent / highest spend), tie-broken on
    * c_custkey so the segmentation is deterministic.
    *
    * Scale note: `ntile` needs a TOTAL ordering (single-partition
    * window) — correct at dimension cardinality (customers), which is
    * what RFM segments. For billion-entity scoring the swap is
    * approx-percentile bucket edges (see valueQuantilesApprox) applied
    * map-side, trading exact quintile boundaries for full parallelism.
    */
  // --- cohort lifetime value --------------------------------------------------
  /** Cohort LTV triangle: customers grouped by FIRST-ORDER month, each
    * cohort tracked across its subsequent months ("age") with active
    * headcount, revenue, and the cumulative revenue per cohort member —
    * the classic growth-accounting companion to the event-side
    * retention cohorts in [[EventQueries]], here on the money axis.
    *
    * Months ride as the integer index year·12+month (spelled
    * arithmetically — month-difference builtins disagree on partial
    * months across engines; two integer extractions cannot). Revenue is
    * exact cents; cumulative LTV divides the exact running sum by the
    * exact cohort headcount once, at the end ([[Exact]] discipline).
    *
    * Scale shape: one pass over orders joined to the customer-sized
    * broadcast of first-order months (the customer aggregate itself is
    * one orders pass), rollup to (cohort, age) — a months² grid —
    * and the cumulative window runs per cohort over that grid, never
    * the fact table.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"),
      (dec(col("o_totalprice")) * lit(100)).cast("long").as("cents"))
    val firstM = o.groupBy(col("o_custkey")).agg(min(col("m")).as("m0"))
    val sized = firstM.groupBy(col("m0")).agg(count(lit(1)).as("cohort_size"))
    // NO broadcast hint on firstM: it is customer-sized, not a dim —
    // the join is custkey-keyed either way and AQE still picks
    // broadcast when the aggregate happens to be small
    val grid = o.join(firstM, "o_custkey")
      .groupBy(col("m0").as("cohort_month"), (col("m") - col("m0")).as("age_months"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(col("cents")).as("rev_cents"))
    val wCum = Window.partitionBy(col("cohort_month")).orderBy(col("age_months"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(broadcast(sized.withColumnRenamed("m0", "cohort_month")), "cohort_month")
      .withColumn("cum_cents", sum(col("rev_cents")).over(wCum))
      .select(col("cohort_month"), col("age_months"), col("n_active"),
        col("rev_cents"), col("cohort_size"),
        (col("cum_cents").cast("double") / col("cohort_size").cast("double"))
          .as("cum_ltv_cents"))
      .orderBy(col("cohort_month"), col("age_months"))
  }

  val cohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(year(CAST(o_orderdate AS DATE)) * 12
      |       + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY o_custkey),
      |sz AS (SELECT m0, CAST(COUNT(*) AS BIGINT) AS cohort_size
      |       FROM f GROUP BY m0),
      |grid AS (
      |  SELECT f.m0 AS cohort_month, o.m - f.m0 AS age_months,
      |    CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
      |    CAST(SUM(cents) AS BIGINT) AS rev_cents
      |  FROM o JOIN f ON o.o_custkey = f.o_custkey
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort_month, age_months, n_active, rev_cents, cohort_size,
      |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month
      |      ORDER BY age_months
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cents
      |  FROM grid JOIN sz ON sz.m0 = grid.cohort_month)
      |SELECT cohort_month, age_months, n_active, rev_cents, cohort_size,
      |  CAST(cum_cents AS DOUBLE) / CAST(cohort_size AS DOUBLE)
      |    AS cum_ltv_cents
      |FROM cum ORDER BY cohort_month, age_months""".stripMargin

  def customerRfm(s: SparkSession, dir: String): DataFrame = {
    // materialized: three rank passes and the final join all read it
    val base = Graft.materialize(t(s, dir, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary")))
    // exact NTILE(5) from the two-pass range-partitioned rank
    // (Graft.rankedByRange): the customer grid grows with SF, so the
    // old global ntile windows were single-partition sorts. The bucket
    // comes from Graft.ntileFromRank — the ONE tested source of the
    // rank→tile integer formula (MaterializeSpec boundary-grid-pins
    // it), not an inline re-spelling that could drift.
    val tot = base.agg(count(lit(1)).as("n"))
    def score(by: Column, name: String): DataFrame =
      Graft.rankedByRange(base.select(col("c_custkey"), by.as("v")),
          col("v"), col("c_custkey"))
        .crossJoin(broadcast(tot))
        .select(col("c_custkey"),
          Graft.ntileFromRank(5, iCol = "i", nCol = "n")
            .cast("long").as(name))
    // the three rank passes are INDEPENDENT jobs over the one
    // materialized base (each is a range-sample + checkpoint + offset
    // collect) — run them from three driver threads so each pass's
    // straggler tail back-fills with the next pass's tasks instead of
    // serializing three full job latencies (optimization-guide §2.6;
    // the warmEdgeCaches pattern)
    val specs = Seq(col("last_order") -> "r_score",
      col("frequency") -> "f_score", col("monetary") -> "m_score")
    val scored = new Array[DataFrame](specs.length)
    Graft.parallelJobs(s, specs.zipWithIndex.map { case ((c, nm), i) =>
      () => { scored(i) = score(c, nm) }
    })
    base
      .join(scored(0), Seq("c_custkey"))
      .join(scored(1), Seq("c_custkey"))
      .join(scored(2), Seq("c_custkey"))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
      .select(col("c_custkey"), col("last_order"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        col("segment"))
      .orderBy(col("c_custkey"))
  }

  /** The 100 TB spelling of [[customerRfm]], made concrete: quintile
    * EDGES come from one `approx_percentile` sketch aggregation
    * (mergeable, fixed-size state), then every customer scores itself
    * MAP-SIDE against the broadcast 4-number edge list — no
    * single-partition `ntile` window, no total ordering anywhere. The
    * trade: boundary customers may land one bucket off exact quintiles
    * (sketch rank error), which AnalyticsOpsSpec bounds by agreement
    * rate. Rows-only checked (sketch outputs are algorithm-specific).
    */
  def customerRfmApprox(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        unix_micros(max(col("o_orderdate")).cast("timestamp")).as("last_us"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary"))
    val qs = array((1 to 4).map(i => lit(i / 5.0)): _*)
    val edges = base.agg(
      percentile_approx(col("last_us"), qs, lit(10000)).as("r_edges"),
      percentile_approx(col("frequency"), qs, lit(10000)).as("f_edges"),
      percentile_approx(col("monetary"), qs, lit(10000)).as("m_edges"))
    // rank = 1 + edges strictly below the value (4-element array per
    // row; the HOF's interpreted path is irrelevant at that width)
    def score(c: Column, edgesCol: Column): Column =
      (lit(1) + size(filter(edgesCol, e => e < c))).cast("long")
    base.crossJoin(broadcast(edges))
      .select(col("c_custkey"), col("frequency"), col("monetary"),
        score(col("last_us"), col("r_edges")).as("r_score"),
        score(col("frequency"), col("f_edges")).as("f_score"),
        score(col("monetary"), col("m_edges")).as("m_score"))
      .orderBy(col("c_custkey"))
  }

  /** Structural-oracle audit of [[customerRfmApprox]]: each of the 12
    * approximate quintile edges (3 dims × q = 0.2/0.4/0.6/0.8,
    * accuracy 10⁴) carries the KLL rank guarantee — the edge value's
    * exact rank among the dim's per-customer values must land within
    * (q±10⁻⁴)·N — and N is recomputable, so the oracle hash-checks
    * the per-customer population beside 12 pinned-to-0 violation
    * counters (the [[EventQueries.valueQuantilesApproxAudit]]
    * pattern). The per-customer scores stay the
    * AnalyticsOpsSpec-bounded [[customerRfmApprox]] API.
    *
    * Scale: one custkey fold, a 1-row edge broadcast, one counting
    * fold (24 conditional sums), a 12-row reshape of the 1-row
    * aggregate.
    */
  def customerRfmApproxAudit(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        unix_micros(max(col("o_orderdate")).cast("timestamp")).as("last_us"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary"))
    val qs = array((1 to 4).map(i => lit(i / 5.0)): _*)
    val edges = base.agg(
      percentile_approx(col("last_us"), qs, lit(10000)).as("e_recency"),
      percentile_approx(col("frequency"), qs, lit(10000)).as("e_frequency"),
      percentile_approx(col("monetary"), qs, lit(10000)).as("e_monetary"))
    val dims = Seq(("frequency", "frequency"), ("monetary", "monetary"),
      ("recency", "last_us"))
    val counts = base.crossJoin(broadcast(edges))
      .agg(count(lit(1)).as("n"),
        (for { (dim, vcol) <- dims; i <- 1 to 4; op <- Seq("lt", "le") }
          yield {
            val e = element_at(col(s"e_$dim"), i)
            val hit = if (op == "lt") col(vcol) < e else col(vcol) <= e
            sum(when(hit, 1L).otherwise(0L)).as(s"${op}_${dim}_$i")
          }): _*)
    val one = graft.Graft.materialize(counts)
    val rows = for { (dim, _) <- dims; i <- 1 to 4 } yield
      one.select(lit(dim).as("dim"), lit(i * 20L).as("edge_pct"),
        col("n").as("n_customers"),
        EventQueries.rankViol(i * 0.2, 1e-4, col("n"),
          col(s"le_${dim}_$i"), col(s"lt_${dim}_$i")).as("rank_violations"))
    rows.reduce(_.unionAll(_)).orderBy(col("dim"), col("edge_pct"))
  }

  val customerRfmApproxAuditSql: String =
    """WITH base AS (
      |  SELECT o_custkey FROM orders GROUP BY o_custkey),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers FROM base),
      |g AS (SELECT * FROM (VALUES
      |  ('frequency', 20), ('frequency', 40), ('frequency', 60),
      |  ('frequency', 80), ('monetary', 20), ('monetary', 40),
      |  ('monetary', 60), ('monetary', 80), ('recency', 20),
      |  ('recency', 40), ('recency', 60), ('recency', 80))
      |  t(dim, edge_pct))
      |SELECT dim, CAST(edge_pct AS BIGINT) AS edge_pct, n_customers,
      |  CAST(0 AS BIGINT) AS rank_violations
      |FROM g, n ORDER BY dim, edge_pct""".stripMargin

  val customerRfmSql: String =
    """WITH base AS (
      |  SELECT o_custkey AS c_custkey,
      |    MAX(o_orderdate) AS last_order,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      |  FROM orders GROUP BY 1)
      |SELECT c_custkey, last_order, frequency, monetary,
      |  CAST(NTILE(5) OVER (ORDER BY last_order, c_custkey) AS BIGINT) AS r_score,
      |  CAST(NTILE(5) OVER (ORDER BY frequency, c_custkey) AS BIGINT) AS f_score,
      |  CAST(NTILE(5) OVER (ORDER BY monetary, c_custkey) AS BIGINT) AS m_score,
      |  CAST(NTILE(5) OVER (ORDER BY last_order, c_custkey) AS VARCHAR)
      |    || CAST(NTILE(5) OVER (ORDER BY frequency, c_custkey) AS VARCHAR)
      |    || CAST(NTILE(5) OVER (ORDER BY monetary, c_custkey) AS VARCHAR)
      |    AS segment
      |FROM base ORDER BY c_custkey""".stripMargin

  // --- exact-sum Pearson correlation -----------------------------------------
  /** Pearson correlation of quantity vs extended price per return flag
    * — the feature-correlation screen a modeling pipeline runs before
    * training. Spelled from the FIVE EXACT MOMENTS (n, Σx, Σy, Σxy,
    * Σx², Σy² as decimal sums — order-independent) with the final r
    * assembled in IEEE doubles, where a plain `corr()` builtin would
    * diverge per engine's accumulation order. One scan, map-side
    * partials, group-sized output: the moments ARE the mergeable
    * sketch of correlation.
    *
    * The report emits r in integer MICRO-units (round(r·10⁶) as
    * BIGINT) — the same micronat discipline as
    * [[TextQueries]]' perplexity: the big moments' scaled-integer
    * representations exceed 2^53, and the two engines' decimal→double
    * conversions can land 1 ulp apart there (double rounding), so the
    * assembled doubles wobble in the last bits. Micro-unit rounding
    * absorbs that wobble deterministically (a flip would need r within
    * ~10⁻¹⁶ of a half-micro boundary).
    */
  def statsCorrelation(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity"); val y = col("l_extendedprice")
    val m = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"), dsum(x * y).as("sxy"),
        dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
    val r = (col("n") * col("sxy") - col("sx") * col("sy")) /
      sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy")))
    m.select(col("l_returnflag"), col("n").cast("long").as("n_lines"),
        round(r * lit(1e6)).cast("long").as("pearson_r_micro"))
      .orderBy(col("l_returnflag"))
  }

  val statsCorrelationSql: String = {
    // VARCHAR round-trip: Σy² reaches 7.4e14 at sf0.1 (only 12x under
    // 2^53, measured by the decimal-margin gate) — route the hugeint->
    // double conversion through fast_float's correctly-rounded parse.
    def ds(e: String) =
      s"CAST(CAST(SUM(CAST($e AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
    s"""WITH m AS (
       |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
       |    ${ds("l_quantity")} AS sx, ${ds("l_extendedprice")} AS sy,
       |    ${ds("l_quantity * l_extendedprice")} AS sxy,
       |    ${ds("l_quantity * l_quantity")} AS sxx,
       |    ${ds("l_extendedprice * l_extendedprice")} AS syy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, CAST(n AS BIGINT) AS n_lines,
       | CAST(ROUND(1000000.0 * (n * sxy - sx * sy)
       |   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) AS BIGINT)
       |   AS pearson_r_micro
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  // --- snapshot diff ----------------------------------------------------------
  /** Content diff between two snapshots of a table — the audit that
    * answers "what changed between yesterday's copy and today's?"
    * without trusting version metadata. Here the "old" snapshot is the
    * pre-1999 slice of orders and the "new" one is the full table (a
    * deterministic stand-in for two real snapshot dirs — the operator
    * only sees two DataFrames). Per key: ADDED (key only in new),
    * CHANGED (key in both, row digest differs — here o_orderstatus is
    * masked to 'F' in the old snapshot's digest to plant deterministic
    * changes), UNCHANGED. One FULL OUTER join on the key comparing
    * 8-byte digests — row content never crosses the wire twice, just
    * (key, digest) pairs, so diffing two 100 TB snapshots moves
    * 16 bytes/row. The digest is [[integrityChecksum]]'s positional-
    * arithmetic md5 spelling, so DuckDB replays it bit-for-bit.
    */
  /** Positional-arithmetic value of the first 15 hex chars of string
    * column `m` — the Spark-side twin of [[PortableSql.hexValue]]. */
  private def hexValueCol(m: String): Column =
    (1 to 15).map { i =>
      val weight = java.math.BigInteger.valueOf(16L).pow(15 - i).longValueExact()
      expr(s"instr('0123456789abcdef', substr($m, $i, 1)) - 1")
        .cast("long") * lit(weight)
    }.reduce(_ + _)

  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("1999-01-01 00:00:00")
    def digested(f: DataFrame, status: Column, kName: String,
                 dName: String): DataFrame =
      f.select(col("o_orderkey").as(kName),
        md5(concat_ws("|",
          coalesce(col("o_orderkey").cast("string"), lit("<NULL>")),
          coalesce(status.cast("string"), lit("<NULL>")),
          coalesce(col("o_orderpriority").cast("string"), lit("<NULL>"))))
          .as("m"))
        .select(col(kName), hexValueCol("m").as(dName))
    val o = t(s, dir, "orders")
    val old = digested(o.filter(col("o_orderdate") < lit(cutoff)),
      lit("F"), "k_old", "d_old")
    val neu = digested(o, col("o_orderstatus"), "k_new", "d_new")
    old.join(neu, col("k_old") === col("k_new"), "full_outer")
      .select(when(col("k_old").isNull, "added")
        .when(col("d_old") =!= col("d_new"), "changed")
        .otherwise("unchanged").as("verdict"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("verdict"))
  }

  val snapshotDiffSql: String = {
    val h = PortableSql.hexValue("m", 15)
    def leg(where: String, status: String, k: String, d: String): String =
      s"""SELECT $k, $h AS $d
         |FROM (SELECT o_orderkey AS $k,
         |        md5(COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>') || '|' ||
         |            COALESCE(CAST($status AS VARCHAR), '<NULL>') || '|' ||
         |            COALESCE(CAST(o_orderpriority AS VARCHAR), '<NULL>')) AS m
         |      FROM orders$where)""".stripMargin
    s"""WITH old AS (
       |${leg(" WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'", "'F'", "k_old", "d_old")}),
       |neu AS (
       |${leg("", "o_orderstatus", "k_new", "d_new")})
       |SELECT CASE WHEN k_old IS NULL THEN 'added'
       |            WHEN d_old <> d_new THEN 'changed'
       |            ELSE 'unchanged' END AS verdict,
       | COUNT(*) AS n_rows
       |FROM old FULL OUTER JOIN neu ON k_old = k_new
       |GROUP BY 1 ORDER BY verdict""".stripMargin
  }

  // --- incremental view maintenance -----------------------------------------
  /** Incremental refresh of a materialized aggregate — THE pattern that
    * keeps a 100 TB rollup fresh without rescanning history: the
    * pre-cutoff "stored" partial (count, sum) and the post-cutoff
    * delta partial are computed independently, then MERGED by partial-
    * aggregate algebra (counts add, decimal sums add, avg re-derives
    * from the merged pair — never averaged averages). Here both
    * partials come from the same table split on a date cutoff, so the
    * DuckDB oracle — a plain full-table aggregate — proves the merge
    * is lossless: refresh(base ⊎ delta) == recompute(all).
    *
    * At scale the base side is a tiny stored summary (one row per
    * group), only the delta scans data, and the merge shuffles
    * group-count-sized partials.
    */
  def ivmRefresh(s: SparkSession, dir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("1999-01-01 00:00:00")
    def partial(f: DataFrame): DataFrame = f
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).as("dec_revenue"))
    val o = t(s, dir, "orders")
    val base = partial(o.filter(col("o_orderdate") < lit(cutoff)))
    val delta = partial(o.filter(col("o_orderdate") >= lit(cutoff)))
    base.unionAll(delta)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("dec_revenue")).as("dec_rev"))
      .select(col("o_orderpriority"), col("n_orders"),
        col("dec_rev").cast("double").as("revenue"),
        (col("dec_rev").cast("double") / col("n_orders")).as("avg_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** The oracle is the FULL recompute — passing it is the lossless-
    * merge proof, not a restatement of the implementation. */
  val ivmRefreshSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
      |   AS avg_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --- equi-width histogram (optimizer-stats collection) ---------------------
  /** Equi-width histogram of order totals — the table-stats collection
    * pass a query optimizer (or a data-quality monitor) runs over a
    * 100 TB table. Deliberately equi-WIDTH, not equi-depth: bin
    * assignment is a pure narrow map (floor division of the value by
    * the bin width), so the whole histogram is one scan + one
    * group-count-sized exchange — no global sort, no ntile window, no
    * single-partition bottleneck. Bin ids ride [[PortableSql.intDiv]]
    * arithmetic so the cut points are engine-identical.
    */
  def statsHistogram(s: SparkSession, dir: String): DataFrame = {
    val width = 25000.0
    t(s, dir, "orders")
      .select((floor(col("o_totalprice") / lit(width))).cast("long").as("bin"),
        col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("bin_min"),
        max(col("o_totalprice")).as("bin_max"),
        dsum(col("o_totalprice")).as("bin_sum"))
      .select(col("bin"), (col("bin") * width).as("bin_lo"),
        ((col("bin") + 1) * width).as("bin_hi"),
        col("n_orders"), col("bin_min"), col("bin_max"), col("bin_sum"))
      .orderBy(col("bin"))
  }

  val statsHistogramSql: String =
    """SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bin,
      | CAST(CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) * 25000.0 AS DOUBLE) AS bin_lo,
      | CAST((CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) + 1) * 25000.0 AS DOUBLE) AS bin_hi,
      | COUNT(*) AS n_orders,
      | MIN(o_totalprice) AS bin_min, MAX(o_totalprice) AS bin_max,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS bin_sum
      |FROM orders
      |GROUP BY 1 ORDER BY bin""".stripMargin

  // --- equi-depth histogram ---------------------------------------------------
  /** Equi-DEPTH histogram of order value: 10 equal-count buckets with
    * their exact boundaries, counts, distinct-value counts, and sums —
    * the histogram an optimizer keeps for selectivity estimation
    * (equal-frequency buckets bound the per-bucket estimation error,
    * where [[statsHistogram]]'s equal-width buckets don't under skew).
    *
    * The bucket of the i-th ranked value is the same arithmetic cut as
    * the decile lift — ((i−1)·10) div n + 1 over the (cents, orderkey)
    * total order — so boundaries are deterministic to the row. Bounds
    * (lo/hi cents) and sums are exact BIGINTs; ndv is an exact
    * count-distinct within the bucket.
    *
    * Scale: one fact scan into the rank — the two-pass
    * range-partitioned spelling ([[graft.Graft.rankedByRange]]), so
    * no single-partition sort ever sees the fact-sized row set —
    * then a 10-group aggregate.
    */
  def statsHistogramEqdepth(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "orders").select(col("o_orderkey"),
      (dec(col("o_totalprice")) * lit(100)).cast("long").as("cents"))
    // range-partitioned rank over the FACT-sized row set — this was
    // the largest single-partition sort in the repo (every order row)
    val ranked = Graft.materialize(
      Graft.rankedByRange(rows, col("cents"), col("o_orderkey")))
    val tot = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bucket", expr("((i - 1) * 10) div n + 1"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("cents")).as("ndv"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket"))
  }

  val statsHistogramEqdepthSql: String = {
    val bucket = PortableSql.intDiv("(i - 1) * 10", "n")
    s"""WITH r AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |rk AS (
      |  SELECT cents,
      |    CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS i
      |  FROM r),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rk)
      |SELECT $bucket + 1 AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT cents) AS BIGINT) AS ndv,
      |  MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM rk, n
      |GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  // --- one-way ANOVA ----------------------------------------------------------
  /** One-way ANOVA F-test of order value across order priorities
    * (Fisher 1925) — the k-group extension of the two-sample drift
    * tests: does ANY priority class carry systematically different
    * order values?
    *
    * Determinism: per-group n and Σx are exact BIGINTs in whole
    * dollars; Σx² accumulates in DECIMAL(38,0) on BOTH engines
    * (group row counts grow as ~3e5·SF with x² ~ 2e10, so a BIGINT
    * square sum would wrap silently near SF 1000 — the
    * [[TimeSeries.autocorrelation]] decimal-moments rule).
    * The between-group sum Σ S_g²/n_g mixes doubles across groups, so
    * it accumulates via a CUMULATIVE WINDOW over the mode-ordered
    * 7-row group grid — both engines then add in the same left-to-
    * right order and the result is bit-identical (the small-grid
    * ordered-accumulation trick; the grand totals stay exact
    * BIGINTs). F and the sums of squares are a fixed IEEE chain.
    *
    * Scale: ONE map-side-combined aggregate over the fact table into
    * a k-row grid; everything after is k-sized.
    */
  def anovaPriority(s: SparkSession, dir: String): DataFrame = {
    val x = expr(
      "cast(cast(o_totalprice as decimal(18,6)) * 100 as bigint) div 100")
    val g = t(s, dir, "orders")
      .select(col("o_orderpriority").as("mode"), x.as("x"))
      .groupBy(col("mode"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("ss_g"))
    val wOrd = Window.orderBy(col("mode"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cum_term",
        sum(col("s_g").cast("double") * col("s_g").cast("double")
          / col("n_g").cast("double")).over(wCum))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
      sum(col("s_g")).as("s"), sum(col("ss_g")).as("ss"))
    cum.crossJoin(broadcast(tot))
      .filter(col("i") === col("k"))
      .select(col("k"), col("n"),
        (col("cum_term") - col("s").cast("double") * col("s").cast("double")
          / col("n").cast("double")).as("ss_between"),
        (col("ss").cast("double") - col("cum_term")).as("ss_within"))
      .select(col("k"), col("n"), col("ss_between"), col("ss_within"),
        ((col("ss_between") / (col("k").cast("double") - 1.0))
          / (col("ss_within") / (col("n").cast("double")
            - col("k").cast("double")))).as("f_stat"))
  }

  val anovaPrioritySql: String = {
    val dollars = PortableSql.intDiv(
      "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)", "100")
    s"""WITH v AS (SELECT o_orderpriority AS mode, $dollars AS x FROM orders),
      |g AS (
      |  SELECT mode, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(x) AS BIGINT) AS s_g,
      |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS ss_g
      |  FROM v GROUP BY mode),
      |c AS (
      |  SELECT mode, n_g, s_g, ss_g,
      |    CAST(row_number() OVER (ORDER BY mode) AS BIGINT) AS i,
      |    SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
      |        / CAST(n_g AS DOUBLE)) OVER (ORDER BY mode
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_term
      |  FROM g),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
      |             CAST(SUM(s_g) AS BIGINT) AS s, SUM(ss_g) AS ss
      |      FROM g),
      |f AS (
      |  SELECT k, n,
      |    cum_term - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS ss_between,
      |    CAST(CAST(ss AS VARCHAR) AS DOUBLE) - cum_term AS ss_within
      |  FROM c, t WHERE i = k)
      |SELECT k, n, ss_between, ss_within,
      |  (ss_between / (CAST(k AS DOUBLE) - 1.0))
      |    / (ss_within / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f_stat
      |FROM f""".stripMargin
  }

  // --- Levene homogeneity-of-variance test -------------------------------------
  /** Levene's test (mean-centered form; Levene 1960) of order-value
    * VARIANCE homogeneity across order priorities — the check run
    * before trusting [[anovaPriority]]'s F (ANOVA assumes equal group
    * variances; Levene is the standard gatekeeper): a one-way ANOVA on
    * the absolute deviations z_i = |x_i − x̄_g|.
    *
    * Determinism: the per-group mean is cleared from the denominator —
    * u_i = |n_g·x_i − S_g| is an exact BIGINT (whole dollars; exact
    * past SF ~3e3, where n_g³·σ² approaches DECIMAL(38)), so
    * z_i = u_i/n_g and the three group-mixing terms
    *   Σ_g U_g/n_g,  Σ_g U_g²/n_g³,  Σ_g (Q_g − U_g²/n_g)/n_g²
    * (U_g = Σu exact in DECIMAL, Q_g = Σu² in DECIMAL(38)) accumulate
    * via the CUMULATIVE WINDOW over the mode-ordered 5-row grid — the
    * [[anovaPriority]] small-grid ordered-accumulation trick, with
    * every double op spelled in the same order in the oracle and the
    * decimal→double casts VARCHAR-routed.
    *
    * Shape: two map-side-combined scans of the fact projection (group
    * moments, then deviation moments — Levene is inherently two-pass;
    * the 5-row group frame broadcasts back between them); everything
    * after is k-sized.
    */
  def levenePriority(s: SparkSession, dir: String): DataFrame = {
    val x = expr(
      "cast(cast(o_totalprice as decimal(18,6)) * 100 as bigint) div 100")
    val v = t(s, dir, "orders")
      .select(col("o_orderpriority").as("mode"), x.as("x"))
    val g1 = v.groupBy(col("mode"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val u = abs(col("n_g") * col("x") - col("s_g"))
    val g2 = v.join(broadcast(g1), "mode")
      .select(col("mode"), col("n_g"), u.as("u"))
      .groupBy(col("mode"), col("n_g"))
      .agg(sum(d19(col("u"))).as("u_g"), sum(d19(col("u")) * d19(col("u"))).as("q_g"))
    val nd = col("n_g").cast("double")
    val ud = col("u_g").cast("double")
    val qd = col("q_g").cast("double")
    val wOrd = Window.orderBy(col("mode"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g2
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cum_z", sum(ud / nd).over(wCum))
      .withColumn("cum_b", sum(ud * ud / (nd * nd * nd)).over(wCum))
      .withColumn("cum_w",
        sum((qd - ud * ud / nd) / (nd * nd)).over(wCum))
    val tot = g2.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"))
    cum.crossJoin(broadcast(tot))
      .filter(col("i") === col("k"))
      .select(col("k"), col("n"),
        (col("cum_b") - col("cum_z") * col("cum_z")
          / col("n").cast("double")).as("ss_between"),
        col("cum_w").as("ss_within"))
      .select(col("k"), col("n"), col("ss_between"), col("ss_within"),
        when(col("ss_within") > 0.0,
          ((col("ss_between") / (col("k").cast("double") - 1.0))
            / (col("ss_within") / (col("n").cast("double")
              - col("k").cast("double")))))
          .otherwise(lit(null).cast("double")).as("w_stat"))
  }

  val levenePrioritySql: String = {
    val dollars = PortableSql.intDiv(
      "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)", "100")
    s"""WITH v AS (SELECT o_orderpriority AS mode, $dollars AS x FROM orders),
      |g1 AS (
      |  SELECT mode, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(x) AS BIGINT) AS s_g
      |  FROM v GROUP BY mode),
      |g2 AS (
      |  SELECT mode, n_g,
      |    SUM(CAST(abs(n_g * x - s_g) AS DECIMAL(19,0))) AS u_g,
      |    SUM(CAST(abs(n_g * x - s_g) AS DECIMAL(19,0))
      |        * CAST(abs(n_g * x - s_g) AS DECIMAL(19,0))) AS q_g
      |  FROM v JOIN g1 USING (mode) GROUP BY mode, n_g),
      |c AS (
      |  SELECT mode, n_g, u_g, q_g,
      |    CAST(row_number() OVER (ORDER BY mode) AS BIGINT) AS i,
      |    SUM(CAST(CAST(u_g AS VARCHAR) AS DOUBLE) / CAST(n_g AS DOUBLE))
      |      OVER w AS cum_z,
      |    SUM(CAST(CAST(u_g AS VARCHAR) AS DOUBLE)
      |        * CAST(CAST(u_g AS VARCHAR) AS DOUBLE)
      |        / (CAST(n_g AS DOUBLE) * CAST(n_g AS DOUBLE)
      |           * CAST(n_g AS DOUBLE))) OVER w AS cum_b,
      |    SUM((CAST(CAST(q_g AS VARCHAR) AS DOUBLE)
      |         - CAST(CAST(u_g AS VARCHAR) AS DOUBLE)
      |           * CAST(CAST(u_g AS VARCHAR) AS DOUBLE) / CAST(n_g AS DOUBLE))
      |        / (CAST(n_g AS DOUBLE) * CAST(n_g AS DOUBLE))) OVER w AS cum_w
      |  FROM g2
      |  WINDOW w AS (ORDER BY mode
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n
      |      FROM g2),
      |f AS (
      |  SELECT k, n,
      |    cum_b - cum_z * cum_z / CAST(n AS DOUBLE) AS ss_between,
      |    cum_w AS ss_within
      |  FROM c, t WHERE i = k)
      |SELECT k, n, ss_between, ss_within,
      |  CASE WHEN ss_within > 0 THEN
      |    (ss_between / (CAST(k AS DOUBLE) - 1.0))
      |      / (ss_within / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
      |  ELSE NULL END AS w_stat
      |FROM f""".stripMargin
  }

  // --- Kruskal–Wallis rank test + Dunn post-hoc --------------------------------
  /** Shared rank grid for [[kruskalWallis]] / [[dunnPairs]]: the
    * per-group (mode, n_g, R2_g) frame with R2_g = Σ DOUBLED pooled
    * midranks of that group's order values, plus the 1-row pooled
    * tie-correction Σ(t³−t).
    *
    * Exactness: values are exact BIGINT cents; pooled midranks come
    * from the tie-group identity 2·midrank = 2·cumBelow + t + 1 on the
    * doubled-rank integer grid (the [[Drift.mannWhitney]] spelling),
    * so every R2_g is an exact BIGINT (Σ over all groups ≤ 2N², exact
    * to N < 2.1e9 rows); t³ accumulates in DECIMAL (a tie group passes
    * int64 near 2.1e6 members).
    *
    * Scale shape: one (value, group)-keyed map-side-combined fold of
    * orders (materialized once — both the pooled tie grid and the
    * rank join read it), pooled per-value counts ride
    * [[graft.Graft.cumSumByRange]] (range-partitioned prefix sums —
    * no single-partition rank window at any size), and the rank join
    * is value-keyed hash-to-hash (both sides NDV-sized, same key).
    */
  private def kwRankGrid(s: SparkSession,
                         dir: String): (DataFrame, DataFrame) = {
    val cents = expr("cast(cast(o_totalprice as decimal(18,6)) * 100 as bigint)")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val pc = Graft.materialize(
      t(s, dir, "orders")
        .select(col("o_orderpriority").as("mode"), cents.as("x"))
        .groupBy(col("x"), col("mode")).agg(count(lit(1)).as("c")))
    val pt = pc.groupBy(col("x")).agg(sum(col("c")).as("t_x"))
    val ranked = Graft.cumSumByRange(pt, Seq(col("x")),
      Seq(col("t_x") -> "cum_incl"))
    val grp = pc.join(
        ranked.select(col("x"),
          (lit(2L) * (col("cum_incl") - col("t_x")) + col("t_x") + lit(1L))
            .as("m2")),
        "x")
      .groupBy(col("mode"))
      .agg(sum(col("c")).as("n_g"), sum(col("c") * col("m2")).as("r2_g"))
    val ties = ranked.agg(
      sum(d19(col("t_x") * col("t_x") - lit(1L)) * d19(col("t_x")))
        .as("tcorr"))
    (grp, ties)
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis, JASA 1952) of order
    * value across order priorities — the RANK-based k-group location
    * test: the nonparametric dual of [[anovaPriority]] (robust to the
    * heavy order-value tail) and the k-group extension of
    * [[Drift.mannWhitney]]. H = 12/(N(N+1))·Σ_g R̄²_g·n_g − 3(N+1)
    * with the standard tie adjustment H/(1 − Σ(t³−t)/(N³−N)).
    *
    * Determinism: n_g/R2_g/tcorr are exact per [[kwRankGrid]]; the
    * group-mixing double sum Σ_g R2_g²/(4n_g) accumulates via the
    * CUMULATIVE WINDOW over the mode-ordered 5-row group grid (the
    * [[anovaPriority]] small-grid ordered-accumulation trick), the
    * decimal tcorr cast is VARCHAR-routed in the oracle, and H is a
    * fixed IEEE chain. All values tied (zero tie factor) yields NULL.
    */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val (grp, ties) = kwRankGrid(s, dir)
    val wOrd = Window.orderBy(col("mode"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grp
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cum_term",
        sum(col("r2_g").cast("double") * col("r2_g").cast("double")
          / (lit(4.0) * col("n_g").cast("double"))).over(wCum))
    val tot = grp.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"))
    val nd = col("n").cast("double")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
      .filter(col("i") === col("k"))
      .select(col("k").as("k_groups"), col("n").as("n_total"),
        (lit(12.0) / (nd * (nd + lit(1.0))) * col("cum_term")
          - lit(3.0) * (nd + lit(1.0))).as("h_stat"),
        (lit(1.0) - col("tcorr").cast("double")
          / (nd * nd * nd - nd)).as("tie_factor"))
      .select(col("k_groups"), col("n_total"), col("h_stat"),
        when(col("tie_factor") > 0.0, col("h_stat") / col("tie_factor"))
          .otherwise(lit(null).cast("double")).as("h_tie_adj"))
  }

  val kruskalWallisSql: String =
    """WITH v AS (SELECT o_orderpriority AS mode,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS x
      |  FROM orders),
      |pc AS (SELECT x, mode, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM v GROUP BY x, mode),
      |pt AS (SELECT x, CAST(SUM(c) AS BIGINT) AS t_x FROM pc GROUP BY x),
      |rk AS (
      |  SELECT x, t_x,
      |    2 * COALESCE(SUM(t_x) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + t_x + 1 AS m2
      |  FROM pt),
      |ties AS (SELECT SUM(CAST(t_x * t_x - 1 AS DECIMAL(19,0))
      |                    * CAST(t_x AS DECIMAL(19,0))) AS tcorr FROM rk),
      |g AS (
      |  SELECT mode, CAST(SUM(c) AS BIGINT) AS n_g,
      |    CAST(SUM(c * m2) AS BIGINT) AS r2_g
      |  FROM pc JOIN rk USING (x) GROUP BY mode),
      |cm AS (
      |  SELECT mode, n_g, r2_g,
      |    CAST(row_number() OVER (ORDER BY mode) AS BIGINT) AS i,
      |    SUM(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
      |        / (4.0 * CAST(n_g AS DOUBLE))) OVER (ORDER BY mode
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_term
      |  FROM g),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n
      |      FROM g),
      |f AS (
      |  SELECT k, n,
      |    12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * cum_term
      |      - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h_stat,
      |    1.0 - CAST(CAST(tcorr AS VARCHAR) AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |         - CAST(n AS DOUBLE)) AS tie_factor
      |  FROM cm, t, ties WHERE i = k)
      |SELECT k AS k_groups, n AS n_total, h_stat,
      |  CASE WHEN tie_factor > 0 THEN h_stat / tie_factor
      |       ELSE NULL END AS h_tie_adj
      |FROM f""".stripMargin

  /** Dunn's post-hoc pairwise comparisons (Dunn, Technometrics 1964)
    * on the SAME pooled midrank grid as [[kruskalWallis]] — the test
    * run AFTER a significant H to localize WHICH priority classes
    * differ: z_gh = (R̄_g − R̄_h) / √(V·(1/n_g + 1/n_h)) with the
    * tie-adjusted pooled variance V = N(N+1)/12 − Σ(t³−t)/(12(N−1)).
    *
    * Determinism: each pair's z is a fixed IEEE chain on that pair's
    * exact integers plus the two global constants — no cross-pair
    * double accumulation exists, so no ordered-window trick is needed
    * (the [[kwRankGrid]] exactness notes apply). Degenerate V ≤ 0
    * (all values tied) yields NULL.
    *
    * Scale: the k-row group grid self-joins into k(k−1)/2 pair rows
    * (broadcast BNLJ on a 5-row side); the fact table is touched only
    * by the shared grid build.
    */
  def dunnPairs(s: SparkSession, dir: String): DataFrame = {
    val (grp, ties) = kwRankGrid(s, dir)
    val tot = grp.agg(sum(col("n_g")).as("n"))
    val a = grp.select(col("mode").as("mode_a"), col("n_g").as("n_a"),
      col("r2_g").as("r2_a"))
    val b = grp.select(col("mode").as("mode_b"), col("n_g").as("n_b"),
      col("r2_g").as("r2_b"))
    val nd = col("n").cast("double")
    val meanA = col("r2_a").cast("double") /
      (lit(2.0) * col("n_a").cast("double"))
    val meanB = col("r2_b").cast("double") /
      (lit(2.0) * col("n_b").cast("double"))
    // tie term on the SAME expression (operator at line end — the
    // leading-minus newline split parses as a separate unary statement
    // and silently drops the term; the oracle hash caught exactly that)
    val vpool = nd * (nd + lit(1.0)) / lit(12.0) -
      col("tcorr").cast("double") / (lit(12.0) * (nd - lit(1.0)))
    a.crossJoin(broadcast(b)).filter(col("mode_a") < col("mode_b"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
      .select(col("mode_a"), col("mode_b"), col("n_a"), col("n_b"),
        meanA.as("mean_rank_a"), meanB.as("mean_rank_b"),
        vpool.as("vpool"))
      .select(col("mode_a"), col("mode_b"), col("n_a"), col("n_b"),
        col("mean_rank_a"), col("mean_rank_b"),
        when(col("vpool") > 0.0,
          (col("mean_rank_a") - col("mean_rank_b"))
            / sqrt(col("vpool") * (lit(1.0) / col("n_a").cast("double")
              + lit(1.0) / col("n_b").cast("double"))))
          .otherwise(lit(null).cast("double")).as("z_dunn"))
      .orderBy(col("mode_a"), col("mode_b"))
  }

  val dunnPairsSql: String =
    """WITH v AS (SELECT o_orderpriority AS mode,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS x
      |  FROM orders),
      |pc AS (SELECT x, mode, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM v GROUP BY x, mode),
      |pt AS (SELECT x, CAST(SUM(c) AS BIGINT) AS t_x FROM pc GROUP BY x),
      |rk AS (
      |  SELECT x, t_x,
      |    2 * COALESCE(SUM(t_x) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + t_x + 1 AS m2
      |  FROM pt),
      |ties AS (SELECT SUM(CAST(t_x * t_x - 1 AS DECIMAL(19,0))
      |                    * CAST(t_x AS DECIMAL(19,0))) AS tcorr FROM rk),
      |g AS (
      |  SELECT mode, CAST(SUM(c) AS BIGINT) AS n_g,
      |    CAST(SUM(c * m2) AS BIGINT) AS r2_g
      |  FROM pc JOIN rk USING (x) GROUP BY mode),
      |t AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n FROM g),
      |p AS (
      |  SELECT a.mode AS mode_a, b.mode AS mode_b,
      |    a.n_g AS n_a, b.n_g AS n_b,
      |    CAST(a.r2_g AS DOUBLE) / (2.0 * CAST(a.n_g AS DOUBLE))
      |      AS mean_rank_a,
      |    CAST(b.r2_g AS DOUBLE) / (2.0 * CAST(b.n_g AS DOUBLE))
      |      AS mean_rank_b
      |  FROM g a, g b WHERE a.mode < b.mode),
      |f AS (
      |  SELECT mode_a, mode_b, n_a, n_b, mean_rank_a, mean_rank_b,
      |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
      |      - CAST(CAST(tcorr AS VARCHAR) AS DOUBLE)
      |        / (12.0 * (CAST(n AS DOUBLE) - 1.0)) AS vpool
      |  FROM p, t, ties)
      |SELECT mode_a, mode_b, n_a, n_b, mean_rank_a, mean_rank_b,
      |  CASE WHEN vpool > 0 THEN (mean_rank_a - mean_rank_b)
      |    / sqrt(vpool * (1.0 / CAST(n_a AS DOUBLE)
      |                    + 1.0 / CAST(n_b AS DOUBLE)))
      |  ELSE NULL END AS z_dunn
      |FROM f ORDER BY mode_a, mode_b""".stripMargin

  /** Tukey–Kramer HSD pairwise comparisons (Tukey 1949; Kramer 1956
    * for unequal n) on order value across priorities — the PARAMETRIC
    * post-hoc localization after [[anovaPriority]]'s F, as [[dunnPairs]]
    * is after [[kruskalWallis]]: the studentized-range statistic
    * q_gh = (x̄_g − x̄_h) / √( MSW/2 · (1/n_g + 1/n_h) ) per pair.
    *
    * Determinism: per-group n/Σx are exact BIGINT dollars and Σx²
    * rides DECIMAL (the [[anovaPriority]] moments); MSW's group-mixing
    * double sum accumulates via the CUMULATIVE WINDOW over the
    * mode-ordered 5-row grid with the decimal Σx² cast VARCHAR-routed
    * in the oracle; each pair's q is then a fixed IEEE chain on that
    * pair's exact integers plus the shared 1-row MSW. Zero within-group
    * variance yields NULL q.
    *
    * Scale: ONE map-side-combined fold of orders into the k-row grid;
    * pairs are a broadcast BNLJ of k-row sides and MSW a 1-row
    * broadcast.
    */
  def tukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val x = expr(
      "cast(cast(o_totalprice as decimal(18,6)) * 100 as bigint) div 100")
    val g = t(s, dir, "orders")
      .select(col("o_orderpriority").as("mode"), x.as("x"))
      .groupBy(col("mode"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("ss_g"))
    val wOrd = Window.orderBy(col("mode"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cum_term",
        sum(col("s_g").cast("double") * col("s_g").cast("double")
          / col("n_g").cast("double")).over(wCum))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
      sum(col("ss_g")).as("ss"))
    val msw = cum.crossJoin(broadcast(tot))
      .filter(col("i") === col("k"))
      .select(((col("ss").cast("double") - col("cum_term"))
        / (col("n").cast("double") - col("k").cast("double"))).as("msw"))
    val a = g.select(col("mode").as("mode_a"), col("n_g").as("n_a"),
      col("s_g").as("s_a"))
    val b = g.select(col("mode").as("mode_b"), col("n_g").as("n_b"),
      col("s_g").as("s_b"))
    val meanA = col("s_a").cast("double") / col("n_a").cast("double")
    val meanB = col("s_b").cast("double") / col("n_b").cast("double")
    a.crossJoin(broadcast(b)).filter(col("mode_a") < col("mode_b"))
      .crossJoin(broadcast(msw))
      .select(col("mode_a"), col("mode_b"), col("n_a"), col("n_b"),
        meanA.as("mean_a"), meanB.as("mean_b"), col("msw"))
      .select(col("mode_a"), col("mode_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        (col("mean_a") - col("mean_b")).as("diff_means"),
        when(col("msw") > 0.0,
          abs(col("mean_a") - col("mean_b"))
            / sqrt(col("msw") / lit(2.0)
              * (lit(1.0) / col("n_a").cast("double")
                + lit(1.0) / col("n_b").cast("double"))))
          .otherwise(lit(null).cast("double")).as("q_stat"))
      .orderBy(col("mode_a"), col("mode_b"))
  }

  val tukeyHsdSql: String = {
    val dollars = PortableSql.intDiv(
      "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)", "100")
    s"""WITH v AS (SELECT o_orderpriority AS mode, $dollars AS x FROM orders),
      |g AS (
      |  SELECT mode, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(x) AS BIGINT) AS s_g,
      |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS ss_g
      |  FROM v GROUP BY mode),
      |c AS (
      |  SELECT mode, n_g, s_g,
      |    CAST(row_number() OVER (ORDER BY mode) AS BIGINT) AS i,
      |    SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
      |        / CAST(n_g AS DOUBLE)) OVER (ORDER BY mode
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_term
      |  FROM g),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
      |             SUM(ss_g) AS ss
      |      FROM g),
      |m AS (
      |  SELECT (CAST(CAST(ss AS VARCHAR) AS DOUBLE) - cum_term)
      |    / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS msw
      |  FROM c, t WHERE i = k),
      |p AS (
      |  SELECT a.mode AS mode_a, b.mode AS mode_b,
      |    a.n_g AS n_a, b.n_g AS n_b,
      |    CAST(a.s_g AS DOUBLE) / CAST(a.n_g AS DOUBLE) AS mean_a,
      |    CAST(b.s_g AS DOUBLE) / CAST(b.n_g AS DOUBLE) AS mean_b
      |  FROM g a, g b WHERE a.mode < b.mode)
      |SELECT mode_a, mode_b, n_a, n_b, mean_a, mean_b,
      |  mean_a - mean_b AS diff_means,
      |  CASE WHEN msw > 0 THEN abs(mean_a - mean_b)
      |    / sqrt(msw / 2.0 * (1.0 / CAST(n_a AS DOUBLE)
      |                        + 1.0 / CAST(n_b AS DOUBLE)))
      |  ELSE NULL END AS q_stat
      |FROM p, m ORDER BY mode_a, mode_b""".stripMargin
  }

  // --- Bartlett variance-homogeneity test -----------------------------------
  /** Bartlett's test (Proc. R. Soc. 1937) of order-value variance
    * homogeneity across priorities — the CLASSICAL (normality-assuming,
    * most powerful) leg beside the robust [[levenePriority]]; reporting
    * both is the standard practice since they disagree exactly when the
    * data is heavy-tailed. χ² = [(N−k)·ln Sp² − Σ(n_g−1)·ln S_g²] / C
    * with C = 1 + (Σ 1/(n_g−1) − 1/(N−k)) / (3(k−1)).
    *
    * Determinism: per-group variances and the pooled MSW come from the
    * exact BIGINT/DECIMAL moments via fixed IEEE chains (decimal casts
    * VARCHAR-routed in the oracle); each ln is rounded to integer
    * MICRONATS, so the weighted log sum Σ(n_g−1)·lnμ(S_g²) and the
    * numerator (N−k)·lnμ(Sp²) − Σ… are exact BIGINTs (order-free — no
    * window needed for THAT sum); the two group-mixing double sums
    * (MSW's cum_term, C's Σ1/(n_g−1)) ride the mode-ordered 5-row
    * cumulative window ([[anovaPriority]] discipline). Any
    * non-positive group variance yields NULL.
    *
    * Scale: ONE map-side-combined fold of orders into the k-row grid;
    * everything after is k-sized.
    */
  def bartlett(s: SparkSession, dir: String): DataFrame = {
    val x = expr(
      "cast(cast(o_totalprice as decimal(18,6)) * 100 as bigint) div 100")
    val lnMicro = (c: Column) => round(log(c) * lit(1e6)).cast("long")
    val g = t(s, dir, "orders")
      .select(col("o_orderpriority").as("mode"), x.as("x"))
      .groupBy(col("mode"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("ss_g"))
    val nd = col("n_g").cast("double")
    val sg2 = (nd * col("ss_g").cast("double")
      - col("s_g").cast("double") * col("s_g").cast("double")) /
      (nd * (nd - lit(1.0)))
    val wOrd = Window.orderBy(col("mode"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cum_term",
        sum(col("s_g").cast("double") * col("s_g").cast("double")
          / col("n_g").cast("double")).over(wCum))
      .withColumn("cum_inv",
        sum(lit(1.0) / (col("n_g").cast("double") - lit(1.0))).over(wCum))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
      sum(col("ss_g")).as("ss"),
      sum((col("n_g") - lit(1L)) * lnMicro(sg2)).as("wlog_micro"),
      min(sg2).as("min_sg2"))
    val kd = col("k").cast("double"); val ntd = col("n").cast("double")
    cum.crossJoin(broadcast(tot))
      .filter(col("i") === col("k"))
      .select(col("k").as("k_groups"), col("n").as("n_total"),
        ((col("ss").cast("double") - col("cum_term")) / (ntd - kd))
          .as("msw"),
        (lit(1.0) + (col("cum_inv") - lit(1.0) / (ntd - kd))
          / (lit(3.0) * (kd - lit(1.0)))).as("c_factor"),
        col("min_sg2"), col("wlog_micro"),
        (col("n") - col("k")).as("nmk"))
      .select(col("k_groups"), col("n_total"), col("msw"), col("c_factor"),
        when(col("min_sg2") > 0.0 && col("msw") > 0.0,
          (col("nmk") * lnMicro(col("msw")) - col("wlog_micro"))
            .cast("double") / lit(1e6) / col("c_factor"))
          .otherwise(lit(null).cast("double")).as("bartlett_chi2"))
  }

  val bartlettSql: String = {
    val dollars = PortableSql.intDiv(
      "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)", "100")
    def lnu(v: String): String =
      s"CAST(round(ln($v) * 1e6) AS BIGINT)"
    val sg2 = """(CAST(n_g AS DOUBLE) * CAST(CAST(ss_g AS VARCHAR) AS DOUBLE)
      |       - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE))
      |      / (CAST(n_g AS DOUBLE) * (CAST(n_g AS DOUBLE) - 1.0))""".stripMargin
    s"""WITH v AS (SELECT o_orderpriority AS mode, $dollars AS x FROM orders),
      |g AS (
      |  SELECT mode, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(x) AS BIGINT) AS s_g,
      |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS ss_g
      |  FROM v GROUP BY mode),
      |c AS (
      |  SELECT mode, n_g, s_g,
      |    CAST(row_number() OVER (ORDER BY mode) AS BIGINT) AS i,
      |    SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
      |        / CAST(n_g AS DOUBLE)) OVER w AS cum_term,
      |    SUM(1.0 / (CAST(n_g AS DOUBLE) - 1.0)) OVER w AS cum_inv
      |  FROM g
      |  WINDOW w AS (ORDER BY mode
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
      |    SUM(ss_g) AS ss,
      |    CAST(SUM((n_g - 1) * ${lnu(sg2)}) AS BIGINT) AS wlog_micro,
      |    MIN($sg2) AS min_sg2
      |  FROM g),
      |f AS (
      |  SELECT k AS k_groups, n AS n_total,
      |    (CAST(CAST(ss AS VARCHAR) AS DOUBLE) - cum_term)
      |      / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS msw,
      |    1.0 + (cum_inv - 1.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
      |      / (3.0 * (CAST(k AS DOUBLE) - 1.0)) AS c_factor,
      |    min_sg2, wlog_micro, n - k AS nmk
      |  FROM c, t WHERE i = k)
      |SELECT k_groups, n_total, msw, c_factor,
      |  CASE WHEN min_sg2 > 0 AND msw > 0 THEN
      |    CAST(nmk * ${lnu("msw")} - wlog_micro AS DOUBLE) / 1e6 / c_factor
      |  END AS bartlett_chi2
      |FROM f""".stripMargin
  }

  // --- Mood's median test -------------------------------------------------------
  /** Mood's median test (Introduction to the Theory of Statistics,
    * 1950) of order value across priorities — the coarsest, most
    * outlier-robust member of the k-group family: classify every order
    * as above vs at-or-below the GRAND median and χ²-test the 2×k
    * contingency. Reported beside [[kruskalWallis]] (which uses full
    * rank information) as the standard robustness cross-check.
    *
    * Determinism: the grand median comes from the engines' shared
    * quantile_cont/percentile midpoint contract (the
    * [[aggMedianPrice]] precedent — identical IEEE midpoint of exact
    * cents), the 2×k cells are exact BIGINT counts from ONE fold, and
    * the χ² accumulates via the CUMULATIVE WINDOW over the
    * mode-ordered 5-row grid ([[anovaPriority]] discipline) with every
    * expected-count term a fixed IEEE chain. A degenerate split (no
    * order above / none below the median) yields NULL.
    *
    * Scale: one 1-row median aggregate broadcast back, one map-side-
    * combined fold into the k-row grid; everything after is k-sized.
    */
  def moodMedian(s: SparkSession, dir: String): DataFrame = {
    val cents = expr("cast(cast(o_totalprice as decimal(18,6)) * 100 as bigint)")
    val v = t(s, dir, "orders")
      .select(col("o_orderpriority").as("mode"), cents.as("x"))
    val med = v.agg(percentile(col("x"), lit(0.5)).as("med"))
    val g = v.crossJoin(broadcast(med))
      .groupBy(col("mode"))
      .agg(count(lit(1)).as("n_g"),
        sum(when(col("x").cast("double") > col("med"), 1L).otherwise(0L))
          .as("a_g"))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
      sum(col("a_g")).as("ma"))
    val nd = col("n").cast("double"); val mad = col("ma").cast("double")
    val ngd = col("n_g").cast("double"); val agd = col("a_g").cast("double")
    val ea = ngd * mad / nd
    val el = ngd * (nd - mad) / nd
    val term = (agd - ea) * (agd - ea) / ea +
      ((ngd - agd) - el) * ((ngd - agd) - el) / el
    val wOrd = Window.orderBy(col("mode"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cum_chi2", sum(term).over(wCum))
      .filter(col("i") === col("k"))
      .select(col("k").as("k_groups"), col("n").as("n_total"),
        col("ma").as("n_above"),
        when(col("ma") > 0L && col("ma") < col("n"), col("cum_chi2"))
          .otherwise(lit(null).cast("double")).as("chi2_mood"))
  }

  val moodMedianSql: String =
    """WITH v AS (SELECT o_orderpriority AS mode,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS x
      |  FROM orders),
      |m AS (SELECT quantile_cont(x, 0.5) AS med FROM v),
      |g AS (
      |  SELECT mode, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(CASE WHEN CAST(x AS DOUBLE) > med THEN 1 ELSE 0 END)
      |         AS BIGINT) AS a_g
      |  FROM v, m GROUP BY mode),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
      |             CAST(SUM(a_g) AS BIGINT) AS ma
      |      FROM g),
      |c AS (
      |  SELECT mode, n_g, a_g, k, n, ma,
      |    CAST(row_number() OVER (ORDER BY mode) AS BIGINT) AS i,
      |    SUM((CAST(a_g AS DOUBLE)
      |           - CAST(n_g AS DOUBLE) * CAST(ma AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(a_g AS DOUBLE)
      |           - CAST(n_g AS DOUBLE) * CAST(ma AS DOUBLE) / CAST(n AS DOUBLE))
      |        / (CAST(n_g AS DOUBLE) * CAST(ma AS DOUBLE) / CAST(n AS DOUBLE))
      |      + ((CAST(n_g AS DOUBLE) - CAST(a_g AS DOUBLE))
      |           - CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ma AS DOUBLE))
      |             / CAST(n AS DOUBLE))
      |        * ((CAST(n_g AS DOUBLE) - CAST(a_g AS DOUBLE))
      |           - CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ma AS DOUBLE))
      |             / CAST(n AS DOUBLE))
      |        / (CAST(n_g AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ma AS DOUBLE))
      |           / CAST(n AS DOUBLE))) OVER (ORDER BY mode
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chi2
      |  FROM g, t)
      |SELECT k AS k_groups, n AS n_total, ma AS n_above,
      |  CASE WHEN ma > 0 AND ma < n THEN cum_chi2 ELSE NULL END AS chi2_mood
      |FROM c WHERE i = k""".stripMargin

  // --- McNemar paired flip test ---------------------------------------------
  /** McNemar's test (Psychometrika 1947) on paired customer activity:
    * was each customer active in 1997 vs in 1998 — the paired-binary
    * dual of the independent-sample drift tests, answering "did the
    * SAME individuals flip state", which an unpaired chi-square cannot.
    * Discordant cells b (active 1997 only) and c (active 1998 only)
    * carry the whole test: χ² = (b−c)²/(b+c), plus Edwards' continuity
    * correction (|b−c|−1)²/(b+c).
    *
    * Determinism: every cell is an exact BIGINT count; both statistics
    * are a single IEEE division of exact-integer doubles ((b−c)² ≤
    * n² < 2^53 past SF 1e3 — and deterministic either way since both
    * engines square the same exact doubles). b + c = 0 yields NULL.
    *
    * Shape: one map-side-combined fold of orders to (custkey, flag94,
    * flag95) — the 100 TB side is touched once — then a 1-row reduce.
    */
  def mcnemarYears(s: SparkSession, dir: String): DataFrame = {
    val yr = year(to_date(col("o_orderdate")))
    val per = t(s, dir, "orders")
      .select(col("o_custkey"), yr.as("yr"))
      .groupBy(col("o_custkey"))
      .agg(max(when(col("yr") === 1997, 1L).otherwise(0L)).as("y94"),
        max(when(col("yr") === 1998, 1L).otherwise(0L)).as("y95"))
    val cells = per.agg(count(lit(1)).as("n_customers"),
      sum(col("y94") * col("y95")).as("n_both"),
      sum(col("y94") * (lit(1L) - col("y95"))).as("only_a"),
      sum((lit(1L) - col("y94")) * col("y95")).as("only_b"))
    val b = col("only_a"); val c = col("only_b")
    val diff = b.cast("double") - c.cast("double")
    val disc = b.cast("double") + c.cast("double")
    cells.select(col("n_customers"), col("n_both"), col("only_a"),
        col("only_b"),
        (col("n_customers") - col("n_both") - b - c).as("neither"),
        when(b + c > 0L, diff * diff / disc)
          .otherwise(lit(null).cast("double")).as("chi2"),
        when(b + c > 0L,
          (abs(diff) - lit(1.0)) * (abs(diff) - lit(1.0)) / disc)
          .otherwise(lit(null).cast("double")).as("chi2_cc"))
  }

  val mcnemarYearsSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
      |        THEN 1 ELSE 0 END) AS y94,
      |    MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1998
      |        THEN 1 ELSE 0 END) AS y95
      |  FROM orders GROUP BY o_custkey),
      |cells AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(y94 * y95) AS BIGINT) AS n_both,
      |    CAST(SUM(y94 * (1 - y95)) AS BIGINT) AS only_a,
      |    CAST(SUM((1 - y94) * y95) AS BIGINT) AS only_b
      |  FROM per)
      |SELECT n_customers, n_both, only_a, only_b,
      |  n_customers - n_both - only_a - only_b AS neither,
      |  CASE WHEN only_a + only_b > 0 THEN
      |    (CAST(only_a AS DOUBLE) - CAST(only_b AS DOUBLE))
      |      * (CAST(only_a AS DOUBLE) - CAST(only_b AS DOUBLE))
      |      / (CAST(only_a AS DOUBLE) + CAST(only_b AS DOUBLE))
      |  ELSE NULL END AS chi2,
      |  CASE WHEN only_a + only_b > 0 THEN
      |    (abs(CAST(only_a AS DOUBLE) - CAST(only_b AS DOUBLE)) - 1.0)
      |      * (abs(CAST(only_a AS DOUBLE) - CAST(only_b AS DOUBLE)) - 1.0)
      |      / (CAST(only_a AS DOUBLE) + CAST(only_b AS DOUBLE))
      |  ELSE NULL END AS chi2_cc
      |FROM cells""".stripMargin

  // --- Cochran–Armitage trend test ----------------------------------------------
  /** Cochran–Armitage test for TREND (Cochran, Biometrics 1954;
    * Armitage 1955) of order completion across the ORDERED priority
    * scale (scores 1-URGENT..5-LOW → 1..5): where
    * [[chi2Independence]] asks "is outcome independent of group", the
    * trend test asks the sharper ordered question "does completion
    * probability MOVE monotonically with priority" — one degree of
    * freedom, far more power against ordered alternatives. Outcome =
    * order fully shipped (o_orderstatus = 'F').
    *
    * Exactness: the whole statistic reduces to four exact BIGINT
    * moments (N, R, A = Σsᵢrᵢ, B = Σsᵢnᵢ, C = Σsᵢ²nᵢ) via
    *   z = (N·A − R·B)·√N / √(R(N−R)·(N·C − B²)),
    * with the two wide differences assembled in DECIMAL(19,0) pairwise
    * products (N·C and B² pass int64 near SF 2e3) and VARCHAR-routed to
    * doubles; z is a fixed IEEE chain. Degenerate margins (R = 0,
    * R = N, single score) yield NULL.
    *
    * Shape: ONE map-side-combined fold of orders to the 5-row score
    * grid, then a 1-row reduce — nothing after the first exchange
    * exceeds 5 rows.
    */
  def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val score = substring(col("o_orderpriority"), 1, 1).cast("long")
    val g = t(s, dir, "orders")
      .select(score.as("s_i"),
        (col("o_orderstatus") === "F").cast("long").as("done"))
      .groupBy(col("s_i"))
      .agg(count(lit(1)).as("n_i"), sum(col("done")).as("r_i"))
    val m = g.agg(sum(col("n_i")).as("n"), sum(col("r_i")).as("r"),
      sum(col("s_i") * col("r_i")).as("a"),
      sum(col("s_i") * col("n_i")).as("b"),
      sum(col("s_i") * col("s_i") * col("n_i")).as("c"))
    val num = (d19(col("n")) * d19(col("a"))
      - d19(col("r")) * d19(col("b"))).cast("double")
    val v2 = (d19(col("n")) * d19(col("c"))
      - d19(col("b")) * d19(col("b"))).cast("double")
    val v1 = (col("r") * (col("n") - col("r"))).cast("double")
    m.select(col("n").as("n_total"), col("r").as("n_complete"),
      when(col("r") > 0L && col("r") < col("n") && v2 > 0.0,
        num * sqrt(col("n").cast("double")) / sqrt(v1 * v2))
        .otherwise(lit(null).cast("double")).as("trend_z"))
  }

  val cochranArmitageSql: String =
    """WITH g AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s_i,
      |    CAST(COUNT(*) AS BIGINT) AS n_i,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |         AS BIGINT) AS r_i
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(r_i) AS BIGINT) AS r,
      |    CAST(SUM(s_i * r_i) AS BIGINT) AS a,
      |    CAST(SUM(s_i * n_i) AS BIGINT) AS b,
      |    CAST(SUM(s_i * s_i * n_i) AS BIGINT) AS c
      |  FROM g),
      |v AS (
      |  SELECT n, r,
      |    CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0))
      |              - CAST(r AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))
      |         AS VARCHAR) AS DOUBLE) AS num,
      |    CAST(r * (n - r) AS DOUBLE) AS v1,
      |    CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
      |              - CAST(b AS DECIMAL(19,0)) * CAST(b AS DECIMAL(19,0))
      |         AS VARCHAR) AS DOUBLE) AS v2
      |  FROM m)
      |SELECT n AS n_total, r AS n_complete,
      |  CASE WHEN r > 0 AND r < n AND v2 > 0
      |       THEN num * sqrt(CAST(n AS DOUBLE)) / sqrt(v1 * v2)
      |  ELSE NULL END AS trend_z
      |FROM v""".stripMargin

  // --- Herfindahl–Hirschman concentration -------------------------------------
  /** Herfindahl–Hirschman index of supplier revenue concentration per
    * nation — the antitrust-style concentration scalar (HHI > 0.25 =
    * highly concentrated) that complements [[giniSpend]]'s customer-side
    * inequality: HHI = Σᵢ shareᵢ² = Σ sᵢ² / S² with sᵢ the supplier's
    * revenue in WHOLE DOLLARS. Per-supplier revenue is ~2.3e7 dollars
    * (constant in SF) but suppliers-per-nation grow as ~400·SF, so the
    * per-nation square sum is ~2e17·SF — past BIGINT near SF 45. The
    * square sum therefore accumulates in DECIMAL(38,0) on BOTH
    * engines (exact past SF 1e20); the linear total stays BIGINT and
    * the index is one IEEE division on correctly-rounded casts.
    * Shape: lineitem joins the supplier dim (broadcast),
    * aggregates to (nation, supplier), then to nation — nothing larger
    * than the supplier grid is exchanged.
    */
  def hhiNation(s: SparkSession, dir: String): DataFrame = {
    val dollars = expr(
      "cast(cast(l_extendedprice as decimal(18,6)) * 100 as bigint) div 100")
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val bySupp = t(s, dir, "lineitem")
      .select(col("l_suppkey"), dollars.as("x"))
      .groupBy(col("l_suppkey")).agg(sum(col("x")).as("rev"))
      // sup is supplier-sized (grows with SF) — no broadcast hint; the
      // join keys on the supplier id and co-partitions with the
      // per-supplier aggregate (auto-broadcast still applies at test SF)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
    bySupp.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("rev")).as("total_dollars"),
        sum(col("rev").cast("decimal(18,0)") * col("rev").cast("decimal(18,0)"))
          .as("sq"))
      .select(col("n_name"), col("n_suppliers"), col("total_dollars"),
        (col("sq").cast("double") /
          (col("total_dollars").cast("double")
            * col("total_dollars").cast("double"))).as("hhi"))
      .orderBy(col("n_name"))
  }

  val hhiNationSql: String = {
    val dollars = PortableSql.intDiv(
      "CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100 AS BIGINT)", "100")
    s"""WITH rev AS (
      |  SELECT l_suppkey, CAST(SUM($dollars) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY l_suppkey),
      |sup AS (
      |  SELECT s_suppkey, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
      |g AS (
      |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |    CAST(SUM(rev) AS BIGINT) AS total_dollars,
      |    SUM(CAST(rev AS DECIMAL(18,0)) * CAST(rev AS DECIMAL(18,0))) AS sq
      |  FROM rev JOIN sup ON l_suppkey = s_suppkey
      |  GROUP BY n_name)
      |SELECT n_name, n_suppliers, total_dollars,
      |  CAST(CAST(sq AS VARCHAR) AS DOUBLE)
      |    / (CAST(total_dollars AS DOUBLE) * CAST(total_dollars AS DOUBLE))
      |    AS hhi
      |FROM g ORDER BY n_name""".stripMargin
  }

  // --- unpivot (wide → long) -------------------------------------------------
  /** Wide-to-long reshaping with the native `Dataset.unpivot` operator
    * (Spark's UNPIVOT): a per-nation metrics row (customer count,
    * supplier count, exact account-balance cents) melts into
    * (nation, metric, value) triples. Unpivot is a zero-shuffle
    * narrow map — each wide row emits its triples in place — so the
    * only exchanges are the two dimension-sized aggregations feeding
    * it. The oracle spells the same reshape as the portable
    * three-way UNION ALL.
    */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum((dec(col("c_acctbal")) * lit(100)).cast("long"))
          .as("acctbal_cents"))
    val supp = t(s, dir, "supplier")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    val wide = cust.join(supp, Seq("nationkey"), "full_outer")
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("nationkey"), col("n_name"))),
        Seq("nationkey"))
      .select(col("n_name").as("nation"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        coalesce(col("acctbal_cents"), lit(0L)).as("acctbal_cents"))
    wide.unpivot(
      Array(col("nation")),
      Array(col("n_customers"), col("n_suppliers"), col("acctbal_cents")),
      "metric", "value")
      .orderBy(col("nation"), col("metric"))
  }

  val unpivotMetricsSql: String =
    """WITH cust AS (
      |  SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 100 AS BIGINT))
      |         AS BIGINT) AS acctbal_cents
      |  FROM customer GROUP BY 1),
      |supp AS (
      |  SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers
      |  FROM supplier GROUP BY 1),
      |wide AS (
      |  SELECT n.n_name AS nation,
      |    COALESCE(c.n_customers, 0) AS n_customers,
      |    COALESCE(s.n_suppliers, 0) AS n_suppliers,
      |    COALESCE(c.acctbal_cents, 0) AS acctbal_cents
      |  FROM nation n
      |  LEFT JOIN cust c ON c.nationkey = n.n_nationkey
      |  LEFT JOIN supp s ON s.nationkey = n.n_nationkey
      |  WHERE c.nationkey IS NOT NULL OR s.nationkey IS NOT NULL)
      |SELECT nation, metric, value FROM (
      |  SELECT nation, 'n_customers' AS metric, n_customers AS value FROM wide
      |  UNION ALL
      |  SELECT nation, 'n_suppliers', n_suppliers FROM wide
      |  UNION ALL
      |  SELECT nation, 'acctbal_cents', acctbal_cents FROM wide)
      |ORDER BY nation, metric""".stripMargin

  // --- weighted median -------------------------------------------------------
  /** Quantity-weighted median price per return flag: the smallest price
    * whose cumulative weight reaches half the total. Prices ride as
    * exact cents and weights as exact integer quantities; ties collapse
    * by pre-aggregating per (flag, price) BEFORE the cumulative window,
    * so the running sum is over DISTINCT ordered keys and no engine's
    * within-tie row order can matter. Shape: one hash aggregation
    * (flag, price), then a per-flag window over the collapsed
    * (price-cardinality-sized) frame — the fact table never enters a
    * window.
    */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val byPrice = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        (dec(col("l_extendedprice")) * lit(100)).cast("long").as("cents"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("flag"), col("cents"))
      .agg(sum(col("q")).as("w"))
    val wcum = Window.partitionBy(col("flag")).orderBy(col("cents"))
    val wall = Window.partitionBy(col("flag"))
    byPrice
      .withColumn("cw", sum(col("w")).over(wcum))
      .withColumn("tot", sum(col("w")).over(wall))
      .filter(col("cw") * 2 >= col("tot"))
      .groupBy(col("flag"))
      .agg(min(col("cents")).as("wmedian_cents"),
        max(col("tot")).as("total_weight"))
      .orderBy(col("flag"))
  }

  /** Gini coefficient of customer spend concentration — the classic
    * inequality scalar (Gini 1912), over per-customer exact-cents
    * totals for customers WITH at least one order. Spelled from the
    * rank formula `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` over the
    * ascending-ordered spend vector: every term is an exact BIGINT
    * (i ≤ n ≤ 2³¹, Σx in cents — the product stays far inside 2⁶³)
    * and the division is the one final IEEE op.
    *
    * Shape: one fact aggregation to the customer-sized spend vector;
    * the ranking window runs over that aggregate (customer
    * cardinality), never the fact table — the [[TimeSeries]]
    * discipline. Ties in spend don't affect Σ i·xᵢ (equal x under
    * permuted i), so no tiebreak is semantically needed; cust key
    * keeps it deterministic anyway.
    */
  // --- decile lift table ------------------------------------------------------
  /** Decile lift table over customer spend — the campaign-targeting
    * report paired with [[giniSpend]]'s concentration scalar: customers
    * ranked by total spend descending, cut into 10 equal-count buckets,
    * each reporting its headcount, spend, spend share, and cumulative
    * share (the "top decile holds X % of revenue" gain curve of
    * direct-marketing lift analysis).
    *
    * The decile is computed ARITHMETICALLY from row_number —
    * ((i−1)·10) div n + 1 — not via ntile(), so bucket-boundary
    * placement is a fixed integer formula no engine can interpret
    * differently. Ties in spend break on custkey, making the rank (and
    * therefore every bucket) fully deterministic. Shares are single
    * IEEE divisions of exact BIGINT cent sums ([[Exact]] discipline).
    *
    * Scale shape: orders collapses to one row per customer (the only
    * fact-table pass); the rank IS the two-pass range-partitioned
    * spelling ([[graft.Graft.rankedByRange]] — partition counts
    * broadcast as offsets, no single-partition sort), and the decile
    * rollup is 10 rows; the 1-row total is a broadcast.
    */
  def decileLift(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((dec(col("o_totalprice")) * lit(100)).cast("long"))
        .as("x"))
    // the promised 100 TB evolution path, now the actual spelling:
    // Graft.rankedByRange replaces the single-partition rank sort
    val ranked = Graft.materialize(
      Graft.rankedByRange(spend, col("x").desc, col("o_custkey")))
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val deciles = ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("((i - 1) * 10) div n + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("x")).as("spend_cents"),
        max(col("sx")).as("sx"))
    deciles
      .withColumn("cum_cents", sum(col("spend_cents")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_customers"), col("spend_cents"),
        (col("spend_cents").cast("double") / col("sx").cast("double"))
          .as("share"),
        (col("cum_cents").cast("double") / col("sx").cast("double"))
          .as("cum_share"))
      .orderBy(col("decile"))
  }

  val decileLiftSql: String = {
    val bucket = PortableSql.intDiv("(i - 1) * 10", "n")
    s"""WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT))
      |         AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |rk AS (
      |  SELECT x,
      |    CAST(row_number() OVER (ORDER BY x DESC, o_custkey) AS BIGINT) AS i
      |  FROM spend),
      |mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
      |       FROM rk),
      |dc AS (
      |  SELECT $bucket + 1 AS decile, x, sx
      |  FROM rk, mo),
      |agg AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |         CAST(SUM(x) AS BIGINT) AS spend_cents, MAX(sx) AS sx
      |  FROM dc GROUP BY decile),
      |cum AS (
      |  SELECT decile, n_customers, spend_cents, sx,
      |    CAST(SUM(spend_cents) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cents
      |  FROM agg)
      |SELECT decile, n_customers, spend_cents,
      |  CAST(spend_cents AS DOUBLE) / CAST(sx AS DOUBLE) AS share,
      |  CAST(cum_cents AS DOUBLE) / CAST(sx AS DOUBLE) AS cum_share
      |FROM cum ORDER BY decile""".stripMargin
  }

  def giniSpend(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((dec(col("o_totalprice")) * lit(100)).cast("long"))
        .as("x"))
    // two-pass range-partitioned rank (Graft.rankedByRange): the
    // customer grid grows with SF, so the old global row_number's
    // single-partition sort was the scale ceiling here. Σ i·x runs in
    // exact decimal — i reaches customer cardinality (1.5e5·SF) and x
    // ~1e6 cents, so the BIGINT product sum wrapped past SF ~30.
    Graft.rankedByRange(spend, col("x"), col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("six"))
      .select(col("n").as("n_customers"), col("sx").as("total_cents"),
        ((lit(2.0) * col("six").cast("double")
          - (col("n") + 1L).cast("double") * col("sx").cast("double"))
          / (col("n").cast("double") * col("sx").cast("double")))
          .as("gini"))
  }

  /** Theil T inequality of customer spend, DECOMPOSED by nation
    * (Theil 1967; Shorrocks, Econometrica 1980 — the additively
    * decomposable inequality index): per nation its spend share,
    * within-nation Theil T_g, and its between-nations term
    * s_g·ln(s_g/p_g) (s_g = spend share, p_g = population share).
    * Total inequality = Σ between terms + Σ s_g·T_g — the "is
    * inequality across groups or inside them" read Gini
    * ([[giniSpend]]) cannot give, because Gini does not decompose.
    *
    * Hash-exact by the micronat discipline: with S_g, n_g, W_g =
    * Σ x·lnµ(x) all exact integers (W_g decimal-summed — the per-row
    * product stays inside int64, the SUM would wrap past SF ~1e3),
    *   T_g      = (W_g − S_g·(lnµ(S_g) − lnµ(n_g))) / (S_g·1e6)
    *   between  = S_g·(lnµS_g − lnµn_g − lnµS + lnµn) / (S·1e6)
    * — every reported double a FIXED IEEE chain over bit-identical
    * integers (the [[TextQueries.charEntropy]] identity, regrouped).
    *
    * Scale shape: one orders aggregation to customer grain, a
    * customer-keyed join to the (customer → nation) map, one
    * 25-row nation aggregate, a 1-row total crossJoined back. No
    * windows, no sorts beyond the 25-row presentation.
    */
  def theilNation(s: SparkSession, dir: String): DataFrame = {
    val lnMicro = (c: Column) =>
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((dec(col("o_totalprice")) * lit(100)).cast("long")).as("x"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("x"))
    val perNation = spend.groupBy(col("nation"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
        sum((col("x") * lnMicro(col("x")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 0))).as("wg"))
    val tot = perNation.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"))
    perNation.crossJoin(broadcast(tot))
      .select(col("nation"), col("ng").as("n_customers"),
        col("sg").as("spend_cents"),
        (col("sg").cast("double") / col("st").cast("double"))
          .as("spend_share"),
        ((col("wg").cast("double")
          - col("sg").cast("double")
            * (lnMicro(col("sg")) - lnMicro(col("ng"))).cast("double"))
          / (col("sg").cast("double") * lit(1e6))).as("theil_within"),
        ((col("sg").cast("double")
          * (lnMicro(col("sg")) - lnMicro(col("ng"))
            - lnMicro(col("st")) + lnMicro(col("n"))).cast("double"))
          / (col("st").cast("double") * lit(1e6))).as("between_term"))
      .orderBy(col("nation"))
  }

  // --- Atkinson index + mean log deviation --------------------------------------
  /** ATKINSON INEQUALITY INDEX at ε = 1 and the MEAN LOG DEVIATION
    * (Theil-L / GE(0)) over per-customer spend (Atkinson, J. Econ.
    * Theory 1970): MLD = ln x̄ − mean(ln x) and A₁ = 1 − e^(−MLD) =
    * 1 − geomean/mean. Completes the inequality triple with
    * [[giniSpend]] and [[theilNation]] (Theil-T): A₁ is the member
    * with a welfare interpretation ("share of total spend that could
    * be discarded under equal division at equal welfare"), the
    * concentration read behind sampling-weight design.
    *
    * Exactness: per-customer cents are exact longs ≥ 1; Σ lnµ(x) is an
    * exact BIGINT micronat sum; x̄ = S/n is ONE IEEE division and
    * ln/exp act on bit-identical doubles in a fixed order on both
    * engines (the micronat-log discipline).
    *
    * Shape: one customer-keyed aggregation (map-side combined) then a
    * grand aggregate — nothing after the first exchange scales with
    * anything but customer cardinality, and that only until the 1-row
    * reduce.
    */
  def atkinsonMld(s: SparkSession, dir: String): DataFrame = {
    val lnMicro = (c: Column) =>
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((dec(col("o_totalprice")) * lit(100)).cast("long")).as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("st"),
        sum(lnMicro(col("x"))).as("sl"))
      .select(col("n").as("n_customers"), col("st").as("total_cents"),
        col("sl").as("sum_ln_micro"),
        (log(col("st").cast("double") / col("n").cast("double"))
          - col("sl").cast("double")
            / (col("n").cast("double") * lit(1e6))).as("mld"))
      // exp's last ulp differs between JVM and DuckDB libm (r13,
      // geomeanByBrand) — land A₁ on the NANO grid so the wobble
      // (≲1e-16 here) cannot flip the hash
      .withColumn("atkinson_1",
        round((lit(1.0) - exp((col("sum_ln_micro").cast("double")
          / (col("n_customers").cast("double") * lit(1e6)))
          - log(col("total_cents").cast("double")
            / col("n_customers").cast("double")))) * lit(1e9))
          .cast("long").cast("double") / lit(1e9))
  }

  val atkinsonMldSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT))
      |         AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS st,
      |    CAST(SUM(CAST(round(ln(CAST(x AS DOUBLE)) * 1e6) AS BIGINT))
      |         AS BIGINT) AS sl
      |  FROM spend)
      |SELECT n AS n_customers, st AS total_cents, sl AS sum_ln_micro,
      |  ln(CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
      |    - CAST(sl AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mld,
      |  CAST(CAST(round(
      |    (1.0 - exp((CAST(sl AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
      |               - ln(CAST(st AS DOUBLE) / CAST(n AS DOUBLE)))) * 1e9)
      |    AS BIGINT) AS DOUBLE) / 1e9 AS atkinson_1
      |FROM g""".stripMargin

  val theilNationSql: String = {
    def lnu(v: String): String =
      s"CAST(round(ln(CAST($v AS DOUBLE)) * 1e6) AS BIGINT)"
    s"""WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT))
      |         AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |sn AS (
      |  SELECT n.n_name AS nation, s.x
      |  FROM spend s
      |  JOIN customer c ON s.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |g AS (
      |  SELECT nation, CAST(COUNT(*) AS BIGINT) AS ng,
      |    CAST(SUM(x) AS BIGINT) AS sg,
      |    SUM(CAST(x * ${lnu("x")} AS DECIMAL(18,0))) AS wg
      |  FROM sn GROUP BY nation),
      |tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n,
      |               CAST(SUM(sg) AS BIGINT) AS st FROM g)
      |SELECT nation, ng AS n_customers, sg AS spend_cents,
      |  CAST(sg AS DOUBLE) / CAST(st AS DOUBLE) AS spend_share,
      |  (CAST(CAST(wg AS VARCHAR) AS DOUBLE)
      |     - CAST(sg AS DOUBLE)
      |       * CAST(${lnu("sg")} - ${lnu("ng")} AS DOUBLE))
      |    / (CAST(sg AS DOUBLE) * 1e6) AS theil_within,
      |  (CAST(sg AS DOUBLE)
      |     * CAST(${lnu("sg")} - ${lnu("ng")}
      |            - ${lnu("st")} + ${lnu("n")} AS DOUBLE))
      |    / (CAST(st AS DOUBLE) * 1e6) AS between_term
      |FROM g CROSS JOIN tot
      |ORDER BY nation""".stripMargin
  }

  val giniSpendSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT))
      |         AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |rk AS (
      |  SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT)
      |           AS i
      |  FROM spend),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |         SUM(CAST(i AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS six
      |  FROM rk)
      |SELECT n AS n_customers, sx AS total_cents,
      |  (2.0 * CAST(CAST(six AS VARCHAR) AS DOUBLE)
      |     - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
      |  / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
      |FROM mo""".stripMargin

  val weightedMedianSql: String =
    """WITH bp AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT flag, cents, w,
      |    CAST(SUM(w) OVER (PARTITION BY flag ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
      |    CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
      |  FROM bp)
      |SELECT flag, CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
      |       CAST(MAX(tot) AS BIGINT) AS total_weight
      |FROM c WHERE cw * 2 >= tot GROUP BY flag ORDER BY flag""".stripMargin

  // --- per-group mode ---------------------------------------------------------
  /** Modal part type per brand — the categorical MODE with a TOTAL
    * tie-break (highest count, then lexicographically first type), so
    * the answer is deterministic where SQL's `mode()` and Spark's
    * `mode` expression both leave ties to implementation order. The
    * catalog read a buyer asks first ("what does this brand mostly
    * sell?"), and the categorical sibling of [[aggMedianPrice]].
    *
    * Shape: one (brand, type) count aggregation with map-side
    * partials, then a brand-PARTITIONED rank window — parallel across
    * brands at any scale — cut to rank 1. Never a global window;
    * exact integers.
    */
  def modeByBrand(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "part")
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_parts"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("n_parts").desc, col("p_type"))
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("p_brand"), col("p_type").as("mode_type"), col("n_parts"))
      .orderBy(col("p_brand"))
  }

  val modeByBrandSql: String =
    """WITH c AS (
      |  SELECT p_brand, p_type, CAST(COUNT(*) AS BIGINT) AS n_parts
      |  FROM part GROUP BY p_brand, p_type),
      |r AS (
      |  SELECT p_brand, p_type, n_parts,
      |    row_number() OVER (PARTITION BY p_brand
      |                       ORDER BY n_parts DESC, p_type) AS rk
      |  FROM c)
      |SELECT p_brand, p_type AS mode_type, n_parts
      |FROM r WHERE rk = 1 ORDER BY p_brand""".stripMargin

  // --- exact per-group quantiles ----------------------------------------------
  /** EXACT per-returnflag quantiles (p25/p50/p75/p90) of lineitem
    * extended price — percentile_disc semantics (the value at rank
    * ⌈q·n⌉ of the group's total order), the exact counterpart of the
    * mergeable sketches in [[EventQueries]] (`events_value_quantiles`
    * keeps the approx leg; this is the audit leg a pipeline runs when
    * sketch error bounds must be VERIFIED, not assumed).
    *
    * Scale shape — GROUPED rankedByRange, not a group-partitioned
    * window: `row_number() OVER (PARTITION BY l_returnflag ...)` would
    * funnel the whole fact table through |flags| = 3 reducers. Instead
    * ONE global [[graft.Graft.rankedByRange]] over (flag, cents, key)
    * gives ranks in which each group is a contiguous block; the 3-row
    * per-group counts (read from the rank checkpoint) become
    * cumulative block offsets, broadcast back, and the group-local
    * rank is `i − offset(flag)` — per-group exact ranks with the
    * two-pass range-partitioned machinery and ZERO low-cardinality
    * partition funnels. The quantile read is then one conditional
    * aggregation per group.
    */
  def quantilesExact(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "lineitem").select(col("l_returnflag"),
      (dec(col("l_extendedprice")) * lit(100)).cast("long").as("cents"),
      col("l_orderkey"), col("l_linenumber"))
    val ranked = Graft.materialize(Graft.rankedByRange(rows,
      col("l_returnflag"), col("cents"), col("l_orderkey"),
      col("l_linenumber")))
    // per-group block offsets: a |flags|-row aggregate of the rank
    // checkpoint (metadata-sized), cumulated in flag order. The
    // driver-side sort MUST replay Spark's range-partition order of
    // the group column (Graft.utf8Order — unsigned UTF-8 bytes, not
    // Scala's UTF-16 String ordering).
    val counts = ranked.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)(Graft.utf8Order)
    val offsets = counts.scanLeft(("", 0L)) { case ((_, acc), (f, n)) =>
      (f, acc + n)
    }.init.zip(counts).map { case ((_, off), (f, n)) => (f, off, n) }
    val offDf = s.createDataFrame(offsets.toSeq)
      .toDF("l_returnflag", "off", "n")
    def pick(pct: Int): Column =
      max(when(col("ig") === expr(s"(n * $pct + 99) div 100"),
        col("cents"))).as(s"p${pct}_cents")
    ranked.join(broadcast(offDf), Seq("l_returnflag"))
      .withColumn("ig", col("i") - col("off"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        pick(25), pick(50), pick(75), pick(90))
      .orderBy(col("l_returnflag"))
  }

  val quantilesExactSql: String = {
    def pick(pct: Int): String =
      s"MAX(CASE WHEN i = ${PortableSql.intDiv(s"n * $pct + 99", "100")} " +
        s"THEN cents END) AS p${pct}_cents"
    s"""WITH r AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100 AS BIGINT)
      |      AS cents,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |rk AS (
      |  SELECT l_returnflag, cents,
      |    CAST(row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY cents, l_orderkey, l_linenumber) AS BIGINT) AS i,
      |    CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      |  FROM r)
      |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  ${pick(25)}, ${pick(50)}, ${pick(75)}, ${pick(90)}
      |FROM rk GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  // --- gaps and islands -------------------------------------------------------
  /** Per-user ISLANDS of consecutive event ids — the classic SQL
    * "gaps and islands" problem via the Tabibitosan trick: within a
    * user, `event_id − row_number() OVER (PARTITION BY user ORDER BY
    * event_id)` is CONSTANT across each maximal consecutive run, so
    * one GROUP BY on that difference materializes every island with
    * zero self-joins. Per user: island count, largest island, event
    * count, the id span (max−min+1), and the span coverage ratio
    * n_events/span (1.0 = one contiguous block, →0 = sparse) — the
    * fragmentation census an ingest audit runs on an allocation
    * pattern (a user whose ids fragment into many 1-islands was
    * interleaved with heavy concurrent traffic; a 1-island user got a
    * contiguous batch). Top-20 most fragmented users (island count
    * desc, user asc). Exact integers throughout; the one double
    * (coverage) is a single exact-int division, correctly rounded on
    * both engines.
    *
    * Scale shape: the window partitions by USER — high cardinality,
    * parallel at any SF (the legitimate partitioned-window class, not
    * the global-order kind) — then two hash aggregations (island
    * grid, per-user rollup) and a distributed TakeOrdered.
    */
  def eventIdIslands(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val islands = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"))
      .withColumn("grp", col("event_id") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("event_id")).as("lo"),
        max(col("event_id")).as("hi"))
    islands
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"), max(col("len")).as("max_island"),
        sum(col("len")).as("n_events"),
        (max(col("hi")) - min(col("lo")) + lit(1L)).as("span"))
      .withColumn("coverage",
        col("n_events").cast("double") / col("span").cast("double"))
      .orderBy(col("n_islands").desc, col("user_id"))
      .limit(k)
  }

  val eventIdIslandsSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id,
      |    event_id - row_number() OVER (PARTITION BY user_id
      |                                  ORDER BY event_id) AS grp
      |  FROM events),
      |isl AS (
      |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
      |    MIN(event_id) AS lo, MAX(event_id) AS hi
      |  FROM t GROUP BY user_id, grp),
      |u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
      |    MAX(len) AS max_island, CAST(SUM(len) AS BIGINT) AS n_events,
      |    CAST(MAX(hi) - MIN(lo) + 1 AS BIGINT) AS span,
      |    row_number() OVER (ORDER BY COUNT(*) DESC, user_id) AS rnk
      |  FROM isl GROUP BY user_id)
      |SELECT user_id, n_islands, max_island, n_events, span,
      |  CAST(n_events AS DOUBLE) / CAST(span AS DOUBLE) AS coverage
      |FROM u WHERE rnk <= 20
      |ORDER BY n_islands DESC, user_id""".stripMargin

  // --- per-brand shape moments ------------------------------------------------
  /** Per-brand skewness and excess kurtosis of part retail price —
    * the distribution-SHAPE moments a pricing or data-drift monitor
    * reads after mean/variance (Pearson moment coefficients; the
    * k-statistic forms of Fisher 1930). Population (biased) versions:
    * g₁ = m₃/m₂^{3/2}, g₂ = m₄/m₂² − 3.
    *
    * Determinism ([[TimeSeries.autocorrelation]]'s rule, one power
    * higher): raw moments Σx, Σx², Σx³, Σx⁴ of exact cents accumulate
    * in unlimited-precision DECIMAL on BOTH engines (cents ~1e6 ⇒ x⁴
    * ~1e24 — far past BIGINT, still inside decimal's 38 digits even
    * summed over per-brand row counts growing to ~1e12), and the
    * central-moment expansion is a FIXED IEEE sequence spelled
    * identically in the oracle: mean = s1/n, m₂ = s2/n − mean², m₃ =
    * s3/n − 3·mean·(s2/n) + 2·mean³, m₄ = s4/n − 4·mean·(s3/n) +
    * 6·mean²·(s2/n) − 3·mean⁴, with m₂^{3/2} spelled m₂·sqrt(m₂) so
    * neither engine's pow() enters. One map-side-combined aggregation
    * over part; everything after is |brands|-sized.
    */
  // --- geometric mean by brand ----------------------------------------------------
  /** GEOMETRIC MEAN retail price per brand beside the arithmetic mean
    * and their ratio (the AM–GM gap reads log-scale price dispersion —
    * ratio 1 = uniform pricing, low ratio = a wide multiplicative
    * spread): the multiplicative average a pricing index actually
    * wants for ratio-scaled quantities, completing the brand-stats
    * family ([[modeByBrand]], [[skewKurtosisByBrand]]).
    *
    * Exactness: geomean = exp(Σ lnµ(cents)/(n·10⁶)) — exact BIGINT
    * micronat sums (prices are value-bounded: lnµ ≤ ~2e7, n·2e7 fits
    * int64 to ~4e11 rows per brand). exp is the ONE libm call whose
    * last ulp differs between the JVM and DuckDB (measured r13 — ln
    * agrees, exp does not), so the result lands on the integer CENT
    * grid before anything derives from it: a 1-ulp exp wobble
    * (~1e-8 cents here) flips a cent-rounding with probability ~1e-8,
    * vs a guaranteed hash mismatch on raw exp output. One
    * map-side-combined aggregation; brand-grid output.
    */
  def geomeanByBrand(s: SparkSession, dir: String): DataFrame = {
    val lnMicro = (c: Column) =>
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val cents = (dec(col("p_retailprice")) * lit(100)).cast("long")
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s"),
        sum(lnMicro(cents)).as("sln"))
      .select(col("p_brand"), col("n").as("n_parts"),
        (col("s").cast("double") / (col("n").cast("double") * lit(100.0)))
          .as("mean_price"),
        round(exp(col("sln").cast("double")
          / (col("n").cast("double") * lit(1e6)))).cast("long")
          .as("geomean_cents"))
      .withColumn("geomean_price",
        col("geomean_cents").cast("double") / lit(100.0))
      .withColumn("gm_am_ratio", col("geomean_price") / col("mean_price"))
      .orderBy(col("p_brand"))
  }

  val geomeanByBrandSql: String =
    """WITH c AS (
      |  SELECT p_brand,
      |    CAST(CAST(p_retailprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
      |  FROM part),
      |g AS (
      |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s,
      |    CAST(SUM(CAST(round(ln(CAST(cents AS DOUBLE)) * 1e6) AS BIGINT))
      |         AS BIGINT) AS sln
      |  FROM c GROUP BY p_brand),
      |m AS (
      |  SELECT p_brand, n AS n_parts,
      |    CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS mean_price,
      |    CAST(round(exp(CAST(sln AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)))
      |         AS BIGINT) AS geomean_cents
      |  FROM g),
      |p AS (
      |  SELECT p_brand, n_parts, mean_price, geomean_cents,
      |    CAST(geomean_cents AS DOUBLE) / 100.0 AS geomean_price
      |  FROM m)
      |SELECT p_brand, n_parts, mean_price, geomean_cents, geomean_price,
      |  geomean_price / mean_price AS gm_am_ratio
      |FROM p ORDER BY p_brand""".stripMargin

  def skewKurtosisByBrand(s: SparkSession, dir: String): DataFrame = {
    val cents = (dec(col("p_retailprice")) * lit(100)).cast("long")
    // the third/fourth powers never chain THREE+ decimal multiplies:
    // x² is squared into an exact BIGINT first (prices are value-
    // bounded, not SF-bounded — cents² wraps only past a $30M part,
    // and ANSI would fail loudly), then every sum input is a PAIRWISE
    // decimal product. The x⁴ pair needs DECIMAL(19,0) operands: in
    // DuckDB 1.0, (18,0)·(18,0) stays int64 and overflow-CHECKS at
    // (x²)² ≈ 6.6e19, while (19,0)·(19,0) promotes to the hugeint
    // DECIMAL(38,0) path — probed directly this round.
    val xd = cents.cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val y = cents * cents
    val yd = y.cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val yw = y.cast(org.apache.spark.sql.types.DecimalType(19, 0))
    val g = t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s1"),
        sum(xd * xd).as("s2"), sum(yd * xd).as("s3"), sum(yw * yw).as("s4"))
    val nd = col("n").cast("double")
    val mean = col("s1").cast("double") / nd
    val r2 = col("s2").cast("double") / nd
    val r3 = col("s3").cast("double") / nd
    val r4 = col("s4").cast("double") / nd
    val m2 = r2 - mean * mean
    val m3 = (r3 - lit(3.0) * mean * r2) + lit(2.0) * mean * mean * mean
    // outer parens required: a line break before `-` would end the
    // statement and silently drop the tail term (the ljungBox trap)
    val m4 = (((r4 - lit(4.0) * mean * r3) + lit(6.0) * mean * mean * r2)
      - lit(3.0) * mean * mean * mean * mean)
    g.select(col("p_brand"), col("n").as("n_parts"),
        mean.as("mean_cents"),
        (m3 / (m2 * sqrt(m2))).as("skewness"),
        (m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess"))
      .orderBy(col("p_brand"))
  }

  val skewKurtosisByBrandSql: String =
    """WITH c AS (
      |  SELECT p_brand,
      |    CAST(CAST(p_retailprice AS DECIMAL(18,6)) * 100 AS BIGINT)
      |      AS cents
      |  FROM part),
      |cy AS (SELECT p_brand, cents, cents * cents AS y FROM c),
      |g AS (
      |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s1,
      |    SUM(CAST(cents AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0)))
      |      AS s2,
      |    SUM(CAST(y AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0)))
      |      AS s3,
      |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS s4
      |  FROM cy GROUP BY p_brand),
      |m AS (
      |  SELECT p_brand, n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
      |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
      |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      |  FROM g),
      |cm AS (
      |  SELECT p_brand, n, mean,
      |    r2 - mean * mean AS m2,
      |    (r3 - 3.0 * mean * r2) + 2.0 * mean * mean * mean AS m3,
      |    ((r4 - 4.0 * mean * r3) + 6.0 * mean * mean * r2)
      |      - 3.0 * mean * mean * mean * mean AS m4
      |  FROM m)
      |SELECT p_brand, n AS n_parts, mean AS mean_cents,
      |  m3 / (m2 * sqrt(m2)) AS skewness,
      |  m4 / (m2 * m2) - 3.0 AS kurtosis_excess
      |FROM cm ORDER BY p_brand""".stripMargin

  // --- Jarque–Bera normality test ---------------------------------------------
  /** Jarque–Bera normality statistic per order priority over order
    * totals (Jarque & Bera, Economics Letters 1980): JB =
    * n/6 · (S² + K²/4) from the same exact central-moment machinery as
    * [[skewKurtosisByBrand]] — the distributional-assumption check a
    * pipeline runs before trusting z-score thresholds
    * ([[EventQueries.anomalyZscore]]) or Welch t-tests
    * ([[Drift]]) on a metric. JB ≫ 9.2 (χ²₂ at 1%) reads as
    * decisively non-normal.
    *
    * Moment discipline: order cents reach ~6e7, so cents² ≈ 3.6e15
    * still fits int64, but EVERY pairwise product here (s3 = y·x ≈
    * 2e23, s4 = y·y ≈ 1.3e31) crosses it — all four sums use
    * DECIMAL(19,0) operands to force both engines onto the wide-decimal
    * path (the r11 rule: (18,0)·(18,0) stays on DuckDB's
    * overflow-checked int64). s4 totals ≈ 4e36 at sf1, inside 38
    * digits; SFs beyond ~100 would need a rescaled unit, noted here so
    * the bound is explicit. One map-side-combined aggregation over
    * orders; everything after is 5 rows.
    */
  def jarqueBera(s: SparkSession, dir: String): DataFrame = {
    val cents = (dec(col("o_totalprice")) * lit(100)).cast("long")
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val xd = cents.cast(d19)
    val y = cents * cents
    val yd = y.cast(d19)
    val g = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s1"),
        sum(xd * xd).as("s2"), sum(yd * xd).as("s3"), sum(yd * yd).as("s4"))
    val nd = col("n").cast("double")
    val mean = col("s1").cast("double") / nd
    val r2 = col("s2").cast("double") / nd
    val r3 = col("s3").cast("double") / nd
    val r4 = col("s4").cast("double") / nd
    val m2 = r2 - mean * mean
    val m3 = (r3 - lit(3.0) * mean * r2) + lit(2.0) * mean * mean * mean
    val m4 = (((r4 - lit(4.0) * mean * r3) + lit(6.0) * mean * mean * r2)
      - lit(3.0) * mean * mean * mean * mean)
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2) - lit(3.0)
    g.select(col("o_orderpriority"), col("n").as("n_orders"),
        skew.as("skewness"), kurt.as("kurtosis_excess"),
        (nd / lit(6.0) * (skew * skew + kurt * kurt / lit(4.0))).as("jb"))
      .orderBy(col("o_orderpriority"))
  }

  val jarqueBeraSql: String =
    """WITH c AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |cy AS (SELECT o_orderpriority, cents, cents * cents AS y FROM c),
      |g AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s1,
      |    SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
      |      AS s2,
      |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS s3,
      |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS s4
      |  FROM cy GROUP BY o_orderpriority),
      |m AS (
      |  SELECT o_orderpriority, n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
      |    CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
      |    CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      |  FROM g),
      |cm AS (
      |  SELECT o_orderpriority, n, mean,
      |    r2 - mean * mean AS m2,
      |    (r3 - 3.0 * mean * r2) + 2.0 * mean * mean * mean AS m3,
      |    ((r4 - 4.0 * mean * r3) + 6.0 * mean * mean * r2)
      |      - 3.0 * mean * mean * mean * mean AS m4
      |  FROM m),
      |sk AS (
      |  SELECT o_orderpriority, n,
      |    m3 / (m2 * sqrt(m2)) AS skewness,
      |    m4 / (m2 * m2) - 3.0 AS kurtosis_excess
      |  FROM cm)
      |SELECT o_orderpriority, n AS n_orders, skewness, kurtosis_excess,
      |  CAST(n AS DOUBLE) / 6.0
      |    * (skewness * skewness + kurtosis_excess * kurtosis_excess / 4.0)
      |    AS jb
      |FROM sk ORDER BY o_orderpriority""".stripMargin

  // --- chi-square independence cells ------------------------------------------
  /** Pearson chi-square DECOMPOSITION of the (o_orderpriority ×
    * order-year) contingency table: per cell the observed count,
    * expected count under independence, the standardized (Pearson)
    * residual (O−E)/√E, and the cell's χ² contribution in exact
    * integer MICRO-units — the cell-level report that tells an analyst
    * WHICH priority×year combinations drive a dependence, not just that
    * one exists ([[EventQueries.mutualInfo]] gives the
    * information-theoretic one-number view of the same table family).
    *
    * Determinism: observed/row/column/grand totals are exact BIGINTs;
    * E = R·C/N is ONE IEEE division of products that stay ≤ 2^53
    * (R·C ≤ N² needs N ≤ 9.4e7 as exact-double; past that the oracle
    * spelling would need a decimal restate — noted bound). Each
    * double-valued cell statistic is a fixed per-ROW IEEE chain —
    * never SUMMED as doubles (the ordered-accumulation ban): the χ²
    * total is left to [[cramersV]], which sums the exact integer
    * micro-contributions instead.
    *
    * Shape: one map-side-combined aggregation over orders to the
    * priority×year grid (5 priorities × the fixture's order-year span;
    * 35 cells at the full 1992–1998 range), CHECKPOINTED with
    * [[graft.Graft.materialize]] so the margins, the grand total, and
    * [[cramersV]]'s reinvocation all derive from ONE scan of orders
    * (Spark has no subplan reuse across DataFrame references — the
    * [[langIdPrf]]/[[cohensKappa]] shared-grid rule); marginals are
    * windows PARTITIONED over the bounded grid; the grand total is a
    * broadcast 1-row aggregate of the grid.
    */
  def chi2Cells(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.Graft.materialize(
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(count(lit(1)).as("obs")))
    val wr = Window.partitionBy(col("o_orderpriority"))
    val wc = Window.partitionBy(col("order_year"))
    val withMargins = cells
      .withColumn("row_total", sum(col("obs")).over(wr))
      .withColumn("col_total", sum(col("obs")).over(wc))
    val n = cells.agg(sum(col("obs")).as("grand_total"))
    withMargins.crossJoin(broadcast(n))
      .withColumn("expected",
        (col("row_total") * col("col_total")).cast("double")
          / col("grand_total").cast("double"))
      .select(col("o_orderpriority"), col("order_year"), col("obs"),
        col("row_total"), col("col_total"), col("expected"),
        ((col("obs").cast("double") - col("expected")) / sqrt(col("expected")))
          .as("pearson_resid"),
        round((col("obs").cast("double") - col("expected"))
          * (col("obs").cast("double") - col("expected"))
          / col("expected") * lit(1e6)).cast("long").as("chi2_micro"))
      .orderBy(col("o_orderpriority"), col("order_year"))
  }

  val chi2CellsSql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT)
      |      AS order_year,
      |    CAST(COUNT(*) AS BIGINT) AS obs
      |  FROM orders GROUP BY 1, 2),
      |m AS (
      |  SELECT o_orderpriority, order_year, obs,
      |    CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS BIGINT)
      |      AS row_total,
      |    CAST(SUM(obs) OVER (PARTITION BY order_year) AS BIGINT)
      |      AS col_total
      |  FROM cells),
      |g AS (SELECT CAST(SUM(obs) AS BIGINT) AS grand_total FROM cells),
      |e AS (
      |  SELECT o_orderpriority, order_year, obs, row_total, col_total,
      |    CAST(row_total * col_total AS DOUBLE) / CAST(grand_total AS DOUBLE)
      |      AS expected
      |  FROM m, g)
      |SELECT o_orderpriority, order_year, obs, row_total, col_total, expected,
      |  (CAST(obs AS DOUBLE) - expected) / sqrt(expected) AS pearson_resid,
      |  CAST(round((CAST(obs AS DOUBLE) - expected)
      |             * (CAST(obs AS DOUBLE) - expected) / expected * 1e6)
      |       AS BIGINT) AS chi2_micro
      |FROM e ORDER BY o_orderpriority, order_year""".stripMargin

  // --- Cramér's V --------------------------------------------------------------
  /** Cramér's V effect size for the same (priority × year) table
    * (Cramér, Mathematical Methods of Statistics 1946): V =
    * √(χ²/(N·min(r−1, c−1))) — the [0,1]-normalized strength that
    * makes chi-square comparable across table shapes. χ² is the SUM of
    * [[chi2Cells]]' exact integer micro-contributions (order-free
    * BIGINT addition — the micronat discipline generalized: round each
    * deterministic per-cell double ONCE to an integer grid, then sum
    * integers), so both engines add identical integers in any order.
    * r and c are counted from the data, not assumed.
    *
    * Shape: [[chi2Cells]]' one materialized fact aggregation, then
    * 1-row reductions of the bounded priority×year grid.
    */
  def cramersV(s: SparkSession, dir: String): DataFrame =
    chi2Cells(s, dir)
      .agg(sum(col("obs")).as("n_rows"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        countDistinct(col("order_year")).as("n_years"),
        sum(col("chi2_micro")).as("chi2_micro"))
      .select(col("n_rows"), col("n_priorities"), col("n_years"),
        (col("chi2_micro").cast("double") / lit(1e6)).as("chi2"),
        sqrt((col("chi2_micro").cast("double") / lit(1e6))
          / (col("n_rows").cast("double")
            * (least(col("n_priorities"), col("n_years")) - 1L).cast("double")))
          .as("cramers_v"))

  val cramersVSql: String =
    s"""WITH cells AS ($chi2CellsSql),
      |a AS (
      |  SELECT CAST(SUM(obs) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
      |    CAST(COUNT(DISTINCT order_year) AS BIGINT) AS n_years,
      |    CAST(SUM(chi2_micro) AS BIGINT) AS chi2_micro
      |  FROM cells)
      |SELECT n_rows, n_priorities, n_years,
      |  CAST(chi2_micro AS DOUBLE) / 1e6 AS chi2,
      |  sqrt((CAST(chi2_micro AS DOUBLE) / 1e6)
      |       / (CAST(n_rows AS DOUBLE)
      |          * CAST(LEAST(n_priorities, n_years) - 1 AS DOUBLE))) AS cramers_v
      |FROM a""".stripMargin

  // --- paired sign test -----------------------------------------------------------
  /** Paired sign test on per-customer 1997-vs-1998 spend — the
    * assumption-free floor of the paired family (sign ⊂ Wilcoxon ⊂ t:
    * uses only the DIRECTION of each customer's change, so it is exact
    * under any symmetric or asymmetric noise where Wilcoxon needs
    * symmetry of differences). Ties (equal spend, including the
    * both-zero customers) drop per the standard convention; z carries
    * the ±1 continuity correction, signed by the plus–minus margin.
    *
    * Exactness: per-customer year spends are exact BIGINT cent sums,
    * so every comparison and all three counts are exact; z is one
    * fixed IEEE chain, NULL when every pair ties.
    *
    * Scale: one custkey-keyed conditional fold (map-side combined),
    * one 1-row reduce.
    */
  def signTest(s: SparkSession, dir: String): DataFrame = {
    val yr = year(to_date(col("o_orderdate")))
    val per = t(s, dir, "orders")
      .select(col("o_custkey"), yr.as("yr"),
        (dec(col("o_totalprice")) * lit(100)).cast("long").as("c"))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("yr") === 1997, col("c")).otherwise(0L)).as("s97"),
        sum(when(col("yr") === 1998, col("c")).otherwise(0L)).as("s98"))
    val cells = per.agg(
      sum(when(col("s98") > col("s97"), 1L).otherwise(0L)).as("n_plus"),
      sum(when(col("s98") < col("s97"), 1L).otherwise(0L)).as("n_minus"),
      sum(when(col("s98") === col("s97"), 1L).otherwise(0L)).as("n_ties"))
    val np = col("n_plus"); val nm = col("n_minus")
    cells.select(col("n_plus"), col("n_minus"), col("n_ties"),
      when(np + nm > 0L,
        signum((np - nm).cast("double"))
          * (abs((np - nm).cast("double")) - lit(1.0))
          / sqrt((np + nm).cast("double")))
        .otherwise(lit(null).cast("double")).as("z_cc"))
  }

  val signTestSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS s97,
      |    CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1998
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS s98
      |  FROM orders GROUP BY o_custkey),
      |cells AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN s98 > s97 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_plus,
      |    CAST(SUM(CASE WHEN s98 < s97 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_minus,
      |    CAST(SUM(CASE WHEN s98 = s97 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_ties
      |  FROM per)
      |SELECT n_plus, n_minus, n_ties,
      |  CASE WHEN n_plus + n_minus > 0 THEN
      |    sign(CAST(n_plus - n_minus AS DOUBLE))
      |    * (abs(CAST(n_plus - n_minus AS DOUBLE)) - 1.0)
      |    / sqrt(CAST(n_plus + n_minus AS DOUBLE))
      |  END AS z_cc
      |FROM cells""".stripMargin

  // --- event-type transition pair grid (shared by Bowker + reciprocity) -----------
  /** Ordered-pair flow grid of the user event-type transition graph:
    * one row per (ft, tt) with `nij` = transitions ft→tt and `nji` =
    * the reversed flow tt→ft (0 when absent) — the shared substrate of
    * [[bowkerSymmetry]] and [[reciprocity]], factored so the pair
    * contract (lead window ordered by (ts, event_id), self-loops
    * dropped, full-outer reversed self-join) cannot drift between the
    * two queries.
    *
    * Scale: one user-partitioned lead window (the legitimate class) +
    * one fold to the ≤|types|² grid; the reversed join is grid×grid.
    */
  private def transitionPairGrid(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val grid = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("ft"),
        lead(col("event_type"), 1).over(w).as("tt"))
      .filter(col("tt").isNotNull && col("ft") =!= col("tt"))
      .groupBy(col("ft"), col("tt")).agg(count(lit(1)).as("n"))
    val rev = grid.select(col("tt").as("ft"), col("ft").as("tt"),
      col("n").as("n_rev"))
    grid.join(rev, Seq("ft", "tt"), "full_outer")
      .select(col("ft"), col("tt"), coalesce(col("n"), lit(0L)).as("nij"),
        coalesce(col("n_rev"), lit(0L)).as("nji"))
  }

  /** SQL twin of [[transitionPairGrid]]: CTEs `pairs`, `grid`, `j`
    * where `j` has (ft, tt, nij, nji) — prepend and build on `j`. */
  private val transitionPairGridSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS ft,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS tt
      |  FROM events),
      |grid AS (
      |  SELECT ft, tt, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM pairs WHERE tt IS NOT NULL AND ft <> tt GROUP BY ft, tt),
      |j AS (
      |  SELECT COALESCE(a.ft, b.tt) AS ft, COALESCE(a.tt, b.ft) AS tt,
      |    COALESCE(a.n, 0) AS nij, COALESCE(b.n, 0) AS nji
      |  FROM grid a FULL OUTER JOIN grid b
      |    ON a.ft = b.tt AND a.tt = b.ft)""".stripMargin

  // --- Bowker symmetry test ---------------------------------------------------------
  /** Bowker's symmetry test on the user event-type transition grid
    * (Bowker, JASA 1948 — McNemar's k×k generalization): does flow
    * i→j balance flow j→i for every event-type pair? A strongly
    * asymmetric pair (view→purchase ≫ purchase→view) is the funnel
    * signature; symmetry means the chain is closer to a random walk.
    * χ² = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji), df = # pairs with any
    * flow.
    *
    * Exactness: per-pair terms land on the integer micro grid via
    * `div` ((n_ij−n_ji)²·10⁶ div (n_ij+n_ji) — exact truncating
    * division of exact BIGINTs), so the grid sum is order-free and χ²
    * is one IEEE division. Headroom: n²·10⁶ < 2⁶³ until a single
    * ordered pair carries ~3e6 · 10³ transitions.
    *
    * Scale: one lead window (user-partitioned, the legitimate class)
    * + one fold to the ≤|types|² grid; the pair join is grid×grid.
    */
  def bowkerSymmetry(s: SparkSession, dir: String): DataFrame = {
    transitionPairGrid(s, dir)
      .filter(col("ft") < col("tt"))
      .select(expr("((nij - nji) * (nij - nji) * 1000000L) div (nij + nji)")
        .as("term_micro"))
      .agg(count(lit(1)).as("df"), sum(col("term_micro")).as("sum_micro"))
      .select(col("df"),
        (col("sum_micro").cast("double") / lit(1e6)).as("chi2_bowker"))
  }

  val bowkerSymmetrySql: String = {
    val term = PortableSql.intDiv(
      "(nij - nji) * (nij - nji) * 1000000", "nij + nji")
    s"""$transitionPairGridSql,
      |terms AS (
      |  SELECT $term AS term_micro
      |  FROM j WHERE ft < tt)
      |SELECT CAST(COUNT(*) AS BIGINT) AS df,
      |  CAST(CAST(SUM(term_micro) AS BIGINT) AS DOUBLE) / 1e6 AS chi2_bowker
      |FROM terms""".stripMargin
  }

  // --- weighted reciprocity ---------------------------------------------------------
  /** Weighted reciprocity of the user event-type transition graph
    * (Squartini, Picciolo, Ruzzenenti & Garlaschelli, Sci. Rep. 2013:
    * r = W↔/W, with W↔ = Σ_{i≠j} min(w_ij, w_ji) the reciprocated
    * flow volume) — the one-number companion to
    * [[bowkerSymmetry]]'s per-pair χ²: Bowker says WHETHER flows
    * balance, reciprocity says HOW MUCH of the volume is two-way
    * (1 = every transition eventually flows back, 0 = purely
    * feed-forward funnel).
    *
    * Exactness: all three totals are exact BIGINT sums over the
    * bounded type grid; r is ONE IEEE division.
    *
    * Scale: [[bowkerSymmetry]]'s shape — one user-partitioned lead
    * window + one fold to the ≤|types|² grid, grid×grid pair join.
    */
  def reciprocity(s: SparkSession, dir: String): DataFrame = {
    transitionPairGrid(s, dir)
      .agg(count(lit(1)).as("n_ordered_pairs"),
        sum(col("nij")).as("total_flow"),
        sum(least(col("nij"), col("nji"))).as("reciprocated_flow"))
      .select(col("n_ordered_pairs"), col("total_flow"),
        col("reciprocated_flow"),
        (col("reciprocated_flow").cast("double")
          / col("total_flow").cast("double")).as("reciprocity"))
  }

  val reciprocitySql: String =
    s"""$transitionPairGridSql,
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_ordered_pairs,
      |    CAST(SUM(nij) AS BIGINT) AS total_flow,
      |    CAST(SUM(LEAST(nij, nji)) AS BIGINT) AS reciprocated_flow
      |  FROM j)
      |SELECT n_ordered_pairs, total_flow, reciprocated_flow,
      |  CAST(reciprocated_flow AS DOUBLE) / CAST(total_flow AS DOUBLE)
      |    AS reciprocity
      |FROM agg""".stripMargin

  // --- trimmed mean --------------------------------------------------------------
  /** Two-sided 10% trimmed mean of order value — the robust location
    * beside `winsorize_stats` (winsorizing CLAMPS the tails to the cut
    * values; trimming DROPS them — Tukey's preferred estimator when
    * outliers are bad records rather than extreme-but-real values).
    * Reports the ordinary mean beside it so the gap reads as tail
    * influence.
    *
    * Contract: k = n·pct div 100 rows trimmed from EACH side of the
    * (cents, orderkey) tie-free total order; both engines compute the
    * identical integer k and the identical kept set, so both sums are
    * exact BIGINT cents and each mean is one IEEE division (the sums
    * reduce to BIGINT before the DOUBLE cast per the r13 rule;
    * measured headroom ≈ 390× at sf0.1, inside the margin gate).
    *
    * Scale: the global rank rides [[graft.Graft.rankedByRange]]
    * (range-partitioned two-pass, never a single-partition
    * row_number); everything after is a 1-row reduce.
    */
  def trimmedMean(s: SparkSession, dir: String, pct: Int = 10): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"),
        (dec(col("o_totalprice")) * lit(100)).cast("long").as("c"))
    val ranked = Graft.rankedByRange(base, col("c"), col("o_orderkey"))
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("c")).as("sum_all"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("k_trim", expr(s"(n * $pct) div 100"))
      .filter(col("i") > col("k_trim")
        && col("i") <= col("n") - col("k_trim"))
      .groupBy(col("n"), col("k_trim"), col("sum_all"))
      .agg(count(lit(1)).as("n_kept"), sum(col("c")).as("sum_kept"))
      .select(col("n"), col("k_trim"), col("n_kept"),
        (col("sum_kept").cast("double")
          / (col("n_kept").cast("double") * lit(100.0))).as("trimmed_mean"),
        (col("sum_all").cast("double")
          / (col("n").cast("double") * lit(100.0))).as("mean"))
  }

  def trimmedMeanSql(pct: Int = 10): String = {
    val k = PortableSql.intDiv(s"n * $pct", "100")
    s"""WITH base AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |r AS (
      |  SELECT c,
      |    CAST(row_number() OVER (ORDER BY c, o_orderkey) AS BIGINT) AS i
      |  FROM base),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |               CAST(SUM(c) AS BIGINT) AS sum_all FROM r),
      |kept AS (
      |  SELECT n, $k AS k_trim, sum_all,
      |    CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    CAST(SUM(c) AS BIGINT) AS sum_kept
      |  FROM r, tot
      |  WHERE i > $k AND i <= n - ($k)
      |  GROUP BY n, k_trim, sum_all)
      |SELECT n, k_trim, n_kept,
      |  CAST(sum_kept AS DOUBLE) / (CAST(n_kept AS DOUBLE) * 100.0)
      |    AS trimmed_mean,
      |  CAST(sum_all AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS mean
      |FROM kept""".stripMargin
  }

  // --- G-test (likelihood-ratio independence) -----------------------------------
  /** Likelihood-ratio independence test on the same (priority × year)
    * table — the information-theoretic twin of the Pearson χ² (Sokal &
    * Rohlf's G-test; G = 2·Σ obs·ln(obs/expected) is 2N·MI(nats), so
    * it is additive across table partitions where χ² is not, which is
    * why log-linear modelling prefers it). Reported beside df so the
    * two tests can be read against the same null distribution.
    *
    * Exactness: ln(obs/exp) = ln(obs·N) − ln(row·col) with each log
    * rounded ONCE to integer micronats (both products ≤ N² ≈ 2.25e10
    * at sf0.1, exactly representable doubles), so every per-cell term
    * is an exact BIGINT and the grid sum is order-free; G is one IEEE
    * division of the doubled exact sum. Cells with obs = 0 don't
    * exist in the grouped grid, matching the G-test's 0·ln0 = 0
    * convention.
    *
    * Shape: [[chi2Cells]]' one materialized fact aggregation; the
    * 1-row (N, r, c) reduction of the bounded grid broadcasts back
    * (allowlisted scalar class) and everything after is grid-sized.
    */
  def gTest(s: SparkSession, dir: String): DataFrame = {
    val lnm = (c: Column) => round(log(c.cast("double")) * lit(1e6)).cast("long")
    val cells = chi2Cells(s, dir)
      .select(col("o_orderpriority"), col("order_year"),
        col("obs"), col("row_total"), col("col_total"))
    val g = cells.agg(sum(col("obs")).as("n_rows"),
      countDistinct(col("o_orderpriority")).as("n_priorities"),
      countDistinct(col("order_year")).as("n_years"))
    cells.crossJoin(broadcast(g))
      .select(col("n_rows"), col("n_priorities"), col("n_years"),
        (col("obs") * (lnm(col("obs") * col("n_rows"))
          - lnm(col("row_total") * col("col_total")))).as("term_micro"))
      .groupBy(col("n_rows"), col("n_priorities"), col("n_years"))
      .agg(sum(col("term_micro")).as("sum_micro"))
      .select(col("n_rows"),
        ((col("n_priorities") - 1L) * (col("n_years") - 1L)).as("df"),
        ((col("sum_micro") * 2L).cast("double") / lit(1e6)).as("g2"))
  }

  val gTestSql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS y,
      |    CAST(COUNT(*) AS BIGINT) AS obs
      |  FROM orders GROUP BY 1, 2),
      |m AS (
      |  SELECT obs,
      |    CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS BIGINT)
      |      AS row_total,
      |    CAST(SUM(obs) OVER (PARTITION BY y) AS BIGINT) AS col_total
      |  FROM cells),
      |g AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_rows,
      |             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
      |               AS n_priorities,
      |             CAST(COUNT(DISTINCT y) AS BIGINT) AS n_years
      |      FROM cells),
      |t AS (
      |  SELECT n_rows, n_priorities, n_years,
      |    obs * (CAST(round(ln(CAST(obs * n_rows AS DOUBLE)) * 1e6) AS BIGINT)
      |      - CAST(round(ln(CAST(row_total * col_total AS DOUBLE)) * 1e6)
      |             AS BIGINT)) AS term_micro
      |  FROM m, g),
      |a AS (
      |  SELECT n_rows, n_priorities, n_years,
      |    CAST(SUM(term_micro) AS BIGINT) AS sum_micro
      |  FROM t GROUP BY 1, 2, 3)
      |SELECT n_rows,
      |  CAST((n_priorities - 1) * (n_years - 1) AS BIGINT) AS df,
      |  CAST(sum_micro * 2 AS DOUBLE) / 1e6 AS g2
      |FROM a""".stripMargin

  // --- one-sample KS uniformity test -------------------------------------------
  /** One-sample Kolmogorov–Smirnov test of order WEEKDAY uniformity
    * (Kolmogorov 1933 / Smirnov 1948; discrete-support caveat per
    * Conover, "Practical Nonparametric Statistics" — on a 7-point
    * lattice the statistic is conservative, which is the right
    * direction for a data-quality gate): D = max_k |F_emp(k) − k/7|
    * over the weekday CDF, plus √n·D. The one-sample companion to
    * [[Drift]]'s two-sample KS — this is the "is the load calendar
    * actually flat" read a partitioning planner wants before assuming
    * uniform daily volume. Weekday is epoch-day mod 7 (engine-origin-
    * proof, the [[TimeSeries.seasonalDecompose]] spelling).
    *
    * ALL-INTEGER until the last step: D = max_k |7·cum_k − (k+1)·n| /
    * (7n) has an exact BIGINT numerator (the max of integer absolute
    * differences — no float CDF anywhere), so `d_num` is exact and D
    * and √n·D are two IEEE ops on bit-identical inputs.
    *
    * Shape: one map-side-combined aggregation to the 7-row weekday
    * grid; the CDF window and the final max ride that bounded grid
    * (PlanAuditSpec-allowlisted class).
    */
  def ksUniformWeekday(s: SparkSession, dir: String): DataFrame = {
    val dow = (datediff(to_date(col("o_orderdate")),
      to_date(lit("1970-01-01"))) % 7).cast("long")
    val grid = t(s, dir, "orders")
      .groupBy(dow.as("dow")).agg(count(lit(1)).as("n_k"))
    val wCum = Window.orderBy(col("dow"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("dow"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("cum", sum(col("n_k")).over(wCum))
      .withColumn("n", sum(col("n_k")).over(wAll))
      .withColumn("rn", row_number().over(Window.orderBy(col("dow"))).cast("long"))
      .select(col("n"),
        abs(col("cum") * lit(7L) - col("rn") * col("n")).as("dev"))
      .groupBy(col("n"))
      .agg(max(col("dev")).as("d_num"))
      .select(col("n").as("n_orders"), col("d_num"),
        (col("d_num").cast("double") / (lit(7.0) * col("n").cast("double")))
          .as("ks_d"),
        (sqrt(col("n").cast("double"))
          * (col("d_num").cast("double") / (lit(7.0) * col("n").cast("double"))))
          .as("sqrt_n_d"))
  }

  val ksUniformWeekdaySql: String =
    """WITH grid AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01',
      |                        CAST(o_orderdate AS DATE)) % 7 AS BIGINT) AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS n_k
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT dow, n_k,
      |    CAST(SUM(n_k) OVER (ORDER BY dow
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(SUM(n_k) OVER () AS BIGINT) AS n,
      |    CAST(row_number() OVER (ORDER BY dow) AS BIGINT) AS rn
      |  FROM grid),
      |d AS (
      |  SELECT n, CAST(MAX(abs(cum * 7 - rn * n)) AS BIGINT) AS d_num
      |  FROM c GROUP BY n)
      |SELECT n AS n_orders, d_num,
      |  CAST(d_num AS DOUBLE) / (7.0 * CAST(n AS DOUBLE)) AS ks_d,
      |  sqrt(CAST(n AS DOUBLE))
      |    * (CAST(d_num AS DOUBLE) / (7.0 * CAST(n AS DOUBLE))) AS sqrt_n_d
      |FROM d""".stripMargin
}
