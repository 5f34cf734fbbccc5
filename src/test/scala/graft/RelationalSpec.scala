package graft

import graft.queries.Relational
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.DecimalType

/** Plan-shape assertions for the relational surface (value correctness
  * is covered by the driver's DuckDB oracle): filter/projection pushdown
  * to the parquet scan, broadcast joins on dimension sides, and
  * partial (map-side) aggregation.
  */
class RelationalSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("scan_filter_project pushes filter and prunes columns at the scan") {
    val df = Relational.scanFilterProject(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: ["), "filter not pushed to parquet scan")
    assert(plan.contains("l_shipdate"), "pushed filter should mention l_shipdate")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"),
      "scan reads unprojected columns — pruning failed")
  }

  test("new TPC-H shapes push their fact filters to the parquet scans") {
    // q10: returnflag prunes lineitem AND the quarter prunes orders — at
    // 100 TB these two pushdowns are most of the query's cost model
    val q10 = planOf(Relational.q10ReturnedItems(spark, sf))
    assert(q10.contains("PushedFilters: ["), "q10 lost scan pushdown")
    assert(q10.contains("l_returnflag"), "q10 returnflag not at the scan")
    // q14: the ship-month filter reaches the lineitem scan, and the part
    // side reads only its join key + type (column pruning)
    val q14 = planOf(Relational.q14PromoRevenue(spark, sf))
    assert(q14.contains("l_shipdate"), "q14 month filter not at the scan")
    val partRead = q14.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(!partRead.contains("p_retailprice"),
      "q14 reads unprojected part columns — pruning failed")
  }

  test("dimension joins broadcast the small side (no fact-table shuffle)") {
    for (df <- Seq(
        Relational.joinBroadcastDim(spark, sf),
        Relational.q3TopRevenue(spark, sf),
        Relational.q5LocalSupplier(spark, sf))) {
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"expected a broadcast join in:\n$plan")
    }
  }

  test("aggregations are partial (map-side combine) before the exchange") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    // Spark plans partial_ aggregate functions below the shuffle
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
  }

  test("q1's exact sums keep no DECIMAL(28,6) buffer and run in a codegen stage") {
    val df = Relational.q1PricingSummary(spark, sf)
    df.collect() // materialize so the adaptive plan is final
    val exec = df.queryExecution.executedPlan
    // Spark's own sum over DECIMAL(18,6) would carry a decimal(28,6)
    // `sum` buffer column out of the partial aggregate
    val wide = collect(exec) { case p => p.output }.flatten
      .filter(_.dataType == DecimalType(28, 6))
    assert(wide.isEmpty, s"decimal(28,6) columns ${wide.mkString(", ")} in:\n$exec")
    assert(!exec.toString.contains("decimal(28,6)"), s"decimal(28,6) in:\n$exec")
    assert(exec.toString.linesIterator.exists(l =>
        l.contains("*(") && l.contains("HashAggregate") && l.contains("partial_exact_sum")),
      s"the partial exact sums are not in a whole-stage codegen stage:\n$exec")
  }

  test("whole-stage codegen covers the scan+filter+project hot path") {
    val df = Relational.scanFilterProject(spark, sf)
    df.collect() // materialize so the adaptive plan is final
    // codegen'd stages print as "*(n) Operator" in the executed plan
    assert(planOf(df).contains("*(1)"), s"no codegen stage in:\n${planOf(df)}")
  }

  test("topkOrders plans a TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Relational.topkOrders(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("approx_count_distinct stays within 5% of exact at sf0.001") {
    val approx = Relational.aggApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Relational.aggCountDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, ex) <- exact) {
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex < 0.05,
        s"flag $k: approx $ap vs exact $ex")
    }
  }

  test("subqueries decorrelate: EXISTS -> semi join, NOT EXISTS -> anti join") {
    val existsPlan = planOf(Relational.subqueryExists(spark, sf))
    assert(existsPlan.contains("LeftSemi"), s"plan:\n$existsPlan")
    val notExistsPlan = planOf(Relational.subqueryNotExists(spark, sf))
    assert(notExistsPlan.contains("LeftAnti"), s"plan:\n$notExistsPlan")
    // neither re-executes the inner query per outer row
    Seq(existsPlan, notExistsPlan).foreach { p =>
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
  }

  test("IN -> semi join; NOT IN -> null-aware BROADCAST anti join") {
    val inPlan = planOf(Relational.subqueryIn(spark, sf))
    assert(inPlan.contains("LeftSemi"), s"plan:\n$inPlan")
    // NOT IN's three-valued NULL semantics force the null-aware anti
    // join, which Spark only executes broadcast — the planning fact the
    // scaladoc warns about (prefer NOT EXISTS at scale)
    val notInPlan = planOf(Relational.subqueryNotIn(spark, sf))
    assert(notInPlan.contains("LeftAnti"), s"plan:\n$notInPlan")
    assert(notInPlan.contains("Broadcast"), s"plan:\n$notInPlan")
  }

  test("full outer join aggregates both sides before the join") {
    val df = Relational.joinFullOuter(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("FullOuter"), s"plan:\n$plan")
    // the join must sit ABOVE the aggregates (inputs pre-shrunk to
    // <=|nation| rows); an agg above the join would mean the raw
    // tables were joined full-outer first
    val joinAt = plan.indexOf("FullOuter")
    val aggsBelow = plan.substring(joinAt).split("\n")
      .count(_.contains("HashAggregate"))
    assert(aggsBelow >= 4, // partial+final per side
      s"expected both sides aggregated below the full-outer join:\n$plan")
  }

  test("window_distribution fuses all four functions into one Window op") {
    val df = Relational.windowDistribution(spark, sf)
    val plan = planOf(df)
    val windowOps = plan.split("\n").count(w =>
      w.contains("Window ") || w.trim.startsWith("Window"))
    assert(windowOps == 1,
      s"ntile/percent_rank/cume_dist/lead share one window spec — " +
        s"expected exactly 1 Window op, got $windowOps:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val q = r.getAs[Long]("quartile"); q >= 1 && q <= 4 })
    assert(rows.forall { r =>
      val pr = r.getAs[Double]("pct_rank"); pr >= 0.0 && pr <= 1.0 })
  }

  test("profile_columns computes all distincts in one scan (Expand)") {
    val df = Relational.profileColumns(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("Expand"), s"plan:\n$plan")
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected ONE scan of orders, got $scans:\n$plan")
  }

  test("join_fuzzy_name is a blocked equi-join, never a cartesian") {
    val plan = planOf(Relational.joinFuzzyName(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
  }

  test("integrity checksum: matches an engine-independent JVM recomputation") {
    // The r7 red row was an oracle-spelling portability failure, not a
    // math failure — so the digest contract is now pinned OUTSIDE any
    // SQL engine: recompute (n, xor, mod-sum) from raw rows with
    // java.security.MessageDigest and require bit-equality. Any engine
    // (or engine version) that disagrees with this is wrong by contract.
    val md = java.security.MessageDigest.getInstance("MD5")
    def rowHash(parts: Seq[String]): Long = {
      val hex = md.digest(parts.mkString("|").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (0 until 15).foldLeft(0L)((acc, i) =>
        acc * 16 + java.lang.Long.parseLong(hex.substring(i, i + 1), 16))
    }
    val rows = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "lang", "source", "n_chars").collect()
    var (x, sm) = (0L, 0L)
    rows.foreach { r =>
      val h = rowHash((0 until 4).map(i =>
        if (r.isNullAt(i)) "<NULL>" else String.valueOf(r.get(i))))
      x ^= h; sm += h % 1048573L
    }
    val got = Relational.integrityChecksum(spark, sf).collect()
      .find(_.getString(0) == "documents").get
    assert(got.getLong(1) == rows.length.toLong)
    assert(got.getLong(2) == x, "xor digest diverges from JVM ground truth")
    assert(got.getLong(3) == sm, "sum digest diverges from JVM ground truth")
  }

  test("integrity checksum: invariant under reorder, flips on a 1-row mutation") {
    import org.apache.spark.sql.functions.{col, rand, when, lit}
    val base = Relational.integrityChecksum(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(base.keySet == Set("customer", "orders", "documents"))

    val tmp = java.nio.file.Files.createTempDirectory("graft_cksum").toString
    // replica 1: same documents rows, shuffled and differently partitioned
    Tables.load(spark, sf, "documents").orderBy(rand(7)).repartition(7)
      .write.mode("overwrite").parquet(s"$tmp/reorder/documents.parquet")
    // replica 2: one row's lang silently flipped
    Tables.load(spark, sf, "documents")
      .withColumn("lang",
        when(col("doc_id") === 42L, lit("xx")).otherwise(col("lang")))
      .write.mode("overwrite").parquet(s"$tmp/mutated/documents.parquet")
    for (leg <- Seq("reorder", "mutated")) {
      for (t <- Seq("customer", "orders")) // checksum needs all three tables
        Tables.load(spark, sf, t).write.mode("overwrite")
          .parquet(s"$tmp/$leg/$t.parquet")
    }
    val re = Relational.integrityChecksum(spark, s"$tmp/reorder").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(re == base, "physical order/partitioning must not affect the digest")
    val mu = Relational.integrityChecksum(spark, s"$tmp/mutated").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(mu("customer") == base("customer") && mu("orders") == base("orders"))
    val (bn, bx, bs) = base("documents"); val (mn, mx, ms) = mu("documents")
    assert(bn == mn, "row count unchanged by the mutation")
    assert(bx != mx && bs != ms, "both digests must flip on a 1-row change")
  }

  test("eventIdIslands: Tabibitosan islands equal a sorted-run scan") {
    import org.apache.spark.sql.functions._
    val got = Relational.eventIdIslands(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val byUser = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    def runs(ids: Seq[Long]): Seq[Long] = {
      // lengths of maximal consecutive runs of the sorted id set
      val s = ids.sorted
      s.foldLeft(List.empty[(Long, Long)]) { // (runStartCount, lastId)
        case (Nil, id) => List((1L, id))
        case ((len, last) :: t, id) =>
          if (id == last + 1) (len + 1, id) :: t else (1L, id) :: (len, last) :: t
      }.map(_._1).reverse
    }
    val expected = byUser.map { case (u, es) =>
      val r = runs(es.map(_._2).toSeq)
      (u, r.length.toLong, r.max, r.sum)
    }.toSeq.sortBy { case (u, n, _, _) => (-n, u) }.take(20)
    assert(got == expected, "island census diverges from the run scan")
    assert(got.forall { case (_, n, mx, tot) => mx <= tot && n <= tot },
      "island invariants violated")
    // span/coverage columns: span = max−min+1 of the user's ids, and
    // coverage is exactly the IEEE quotient n_events/span in (0, 1]
    val full = Relational.eventIdIslands(spark, sf).collect()
    for (r <- full) {
      val ids = byUser(r.getLong(0)).map(_._2)
      val span = ids.max - ids.min + 1
      assert(r.getLong(4) == span, s"user ${r.getLong(0)} span")
      assert(r.getDouble(5) == r.getLong(3).toDouble / span.toDouble &&
        r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0,
        s"user ${r.getLong(0)} coverage")
    }
  }

  test("quantilesExact: grouped ranks equal a sorted-array positional read") {
    import org.apache.spark.sql.functions._
    val out = Relational.quantilesExact(spark, sf).collect()
    val rows = graft.Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,6)") * lit(100))
          .cast("long").as("c"),
        col("l_orderkey"), col("l_linenumber"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3).toLong))
    val byFlag = rows.groupBy(_._1)
    for (r <- out) {
      val flag = r.getString(0)
      val sorted = byFlag(flag).sortBy { case (_, c, ok, ln) => (c, ok, ln) }
        .map(_._2)
      val n = sorted.length
      assert(r.getLong(1) == n, s"$flag n_rows")
      for ((pct, ix) <- Seq(25 -> 2, 50 -> 3, 75 -> 4, 90 -> 5)) {
        val target = (n.toLong * pct + 99) / 100 // ceil(pct*n/100), 1-based
        assert(r.getLong(ix) == sorted((target - 1).toInt),
          s"$flag p$pct diverges from the sorted-array read")
      }
    }
    assert(out.map(_.getString(0)).toSeq == byFlag.keys.toSeq.sorted)
  }

  test("skewKurtosisByBrand: moments replay with exact BigInt sums") {
    import org.apache.spark.sql.functions._
    val out = Relational.skewKurtosisByBrand(spark, sf).collect()
    val rows = graft.Tables.load(spark, sf, "part")
      .select(col("p_brand"),
        (col("p_retailprice").cast("decimal(18,6)") * lit(100))
          .cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byBrand = rows.groupBy(_._1)
    for (r <- out) {
      val xs = byBrand(r.getString(0)).map(_._2)
      val n = xs.length.toDouble
      val mean = xs.sum.toDouble / n
      def cm(k: Int) = xs.map(x => math.pow(x - mean, k)).sum / n
      val (m2, m3, m4) = (cm(2), cm(3), cm(4))
      assert(r.getLong(1) == xs.length)
      assert(math.abs(r.getDouble(2) - mean) < 1e-6 * mean)
      // the query's raw-moment expansion cancels ~2 digits at the 4th
      // power (r4 ~ mean⁴ ~ 5e20 vs m4 ~ 6e18), so it agrees with the
      // more-accurate central-sum replay only to ~1e-5 — numerical,
      // not semantic; CROSS-ENGINE exactness is the oracle's job (both
      // engines run the identical expansion bit-for-bit)
      assert(math.abs(r.getDouble(3) - m3 / (m2 * math.sqrt(m2))) < 1e-4,
        s"${r.getString(0)} skewness diverges from central-moment replay")
      assert(math.abs(r.getDouble(4) - (m4 / (m2 * m2) - 3.0)) < 1e-4,
        s"${r.getString(0)} kurtosis diverges from central-moment replay")
    }
  }

  test("modeByBrand: per-brand max count with the lexicographic tie-break") {
    import org.apache.spark.sql.functions._
    val out = Relational.modeByBrand(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // independent recompute: driver-side group-and-max over the raw table
    val raw = graft.Tables.load(spark, sf, "part")
      .groupBy(col("p_brand"), col("p_type")).count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = raw.groupBy(_._1).map { case (brand, rows) =>
      val best = rows.minBy { case (_, tpe, n) => (-n, tpe) }
      (brand, best._2, best._3)
    }.toSeq.sortBy(_._1)
    assert(out.toSeq == expected, "mode rows diverge from driver replay")
    assert(out.map(_._1).toSeq == out.map(_._1).sorted.toSeq
      && out.map(_._1).distinct.length == out.length,
      "exactly one row per brand, brand-ordered")
  }
}
