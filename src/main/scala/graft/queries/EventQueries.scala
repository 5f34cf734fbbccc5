package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the `events` table: the reference's
  * interval query re-expressed on driver test data, tumbling-window
  * aggregation, moving averages, lag/delta, and gap-based
  * sessionization. These are the batch duals of the Structured Streaming
  * surface in graft.streaming (same logical shapes, verified for parity
  * in StreamingSpec).
  *
  * The oracle timestamps: events carries TIMESTAMP(NANOS); both engines
  * floor to microseconds the same way (see Tables.events), and every
  * emitted timestamp is also second- or hour-truncated, so values are
  * exactly comparable.
  */
object EventQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  import Exact.dsum

  // --- the reference interval query, on events -------------------------------
  /** Reference query semantics on test data (SURVEY §2 B1/B2/C1/F1/F2):
    * second-truncated event time, inclusive-inclusive bounds, ascending
    * sort. See graft.queries.IntervalQuery for the exact dolar-table
    * version with request validation.
    */
  def intervalEvents(s: SparkSession, dir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    ev(s, dir)
      .select(date_trunc("second", col("ts")).as("fechahora"),
        col("value").as("valor"))
      .filter(col("fechahora").between(lit(lo), lit(hi)))
      .orderBy(col("fechahora"), col("valor"))
  }

  val intervalEventsSql: String =
    """SELECT date_trunc('second', ts)::TIMESTAMP AS fechahora, value AS valor
      |FROM events
      |WHERE date_trunc('second', ts)::TIMESTAMP
      |  BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
      |ORDER BY fechahora, valor""".stripMargin

  // --- tumbling window --------------------------------------------------------
  def tumblingHourly(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("hour_start"), col("event_type"))

  val tumblingHourlySql: String =
    """SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_start, event_type,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  // --- moving average ---------------------------------------------------------
  /** 3-row moving average of `value` per user (frame aggregate). The sum
    * runs over DECIMAL so the frame result is order-exact; the average is
    * an IEEE division.
    */
  def movingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    ev(s, dir)
      .select(col("user_id"), col("event_id"),
        (dsum(col("value")).over(w) /
          count(lit(1)).over(w)).as("moving_avg"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val movingAvgSql: String =
    """SELECT user_id, event_id,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
      |   / COUNT(*) OVER w AS moving_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // --- lag / delta -------------------------------------------------------------
  def lagDelta(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val lagDeltaSql: String =
    """SELECT user_id, event_id, value,
      | value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // --- resample / gap-fill ------------------------------------------------------
  /** Daily resample with gap-fill: one user's purchase series densified
    * to a continuous daily calendar (missing days count 0) plus a
    * forward-filled last-observed daily total.
    *
    * Scale note: the calendar axis is bounded by the time horizon (days,
    * not data rows), so the unpartitioned forward-fill window is a
    * metadata-sized frame; the data-sized work (the daily aggregation)
    * is a normal partial-aggregated groupBy. For per-key gap-fill the
    * same plan partitions the window by key.
    */
  def gapfillDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .filter(col("user_id") === 7 && col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
    val cal = daily
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    val wFill = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("day"), "left")
      .select(col("day").cast("timestamp").as("day"), // timestamp: oracle-comparable type both engines
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total"), lit(0.0)).as("total"),
        last(col("total"), ignoreNulls = true).over(wFill).as("ffill_total"))
      .orderBy(col("day"))
  }

  val gapfillDailySql: String =
    """WITH daily AS (
      |  SELECT ts::DATE AS day, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      |  FROM events WHERE user_id = 7 AND event_type = 'purchase'
      |  GROUP BY 1),
      |cal AS (
      |  SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
      |    (SELECT MAX(day) FROM daily), INTERVAL 1 DAY)) AS day)
      |SELECT CAST(c.day AS TIMESTAMP) AS day,
      |  COALESCE(d.n, 0) AS n, COALESCE(d.total, 0.0) AS total,
      |  LAST_VALUE(d.total IGNORE NULLS) OVER (ORDER BY c.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_total
      |FROM cal c LEFT JOIN daily d ON c.day = d.day
      |ORDER BY c.day""".stripMargin

  // --- as-of join ---------------------------------------------------------------
  /** Per-key as-of join — the time-series operator Spark has no native
    * node for: every 'click' event picks the same user's most recent
    * 'purchase' value at-or-before its timestamp.
    *
    * Spark-first composition (preference (a) of the custom-operator
    * ladder): one pass over the unioned stream with a per-user
    * cumulative window — `last(purchase_value, ignoreNulls)` over
    * (ts, event_id) — instead of a join at all. Scale shape: a single
    * hash exchange on user_id + an in-partition sort; no range join, no
    * broadcast, no per-row probing, and skew is bounded by events per
    * user. The DuckDB oracle is its native ASOF LEFT JOIN.
    */
  /** The as-of transform over any (user_id, event_id, ts, event_type,
    * value) frame — separated from the table scan so AsofSpec can plant
    * edge cases (same-timestamp ties) the generated data never carries.
    */
  def asofOver(events: DataFrame): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    // at EQUAL timestamps a purchase must sort before the click — the
    // ASOF contract is "at-or-before" (c.ts >= p.ts, inclusive), so a
    // same-instant purchase is visible to the click; ordering by
    // (ts, event_id) alone would hide a same-ts purchase whose
    // event_id is larger than the click's
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), when(isPurchase, 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("last_purchase_value",
        last(when(isPurchase, col("value")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("last_purchase_value"))
      .orderBy(col("user_id"), col("click_id"))
  }

  def asofPurchase(s: SparkSession, dir: String): DataFrame =
    asofOver(ev(s, dir))

  /** FORWARD as-of: each click labeled with the NEXT purchase value
    * at-or-after it — the outcome-labeling join a training pipeline
    * runs to attach future targets to feature rows (the backward
    * variant attaches history). Mirror of [[asofOver]]: at equal
    * timestamps the purchase sorts AFTER the click so the inclusive
    * forward frame sees it; same one-exchange window shape.
    */
  def asofNextPurchase(s: SparkSession, dir: String): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), when(isPurchase, 1).otherwise(0), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev(s, dir)
      .withColumn("next_purchase_value",
        first(when(isPurchase, col("value")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("next_purchase_value"))
      .orderBy(col("user_id"), col("click_id"))
  }

  val asofNextPurchaseSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, ts, value,
      |    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
      |                IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts,
      |              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END,
      |              event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS next_purchase_value
      |  FROM events)
      |SELECT user_id, event_id AS click_id, next_purchase_value
      |FROM o WHERE event_type = 'click'
      |ORDER BY user_id, click_id""".stripMargin

  /** NEAREST as-of: each click labeled with the purchase closest in
    * ABSOLUTE time, either direction — the tolerance-free nearest-
    * neighbor join a feature pipeline uses when "the relevant
    * transaction" may precede or follow the signal (pandas
    * merge_asof(direction='nearest') semantics). Ties (equidistant
    * prev/next) resolve to the EARLIER purchase; a same-instant
    * purchase wins outright with dt 0.
    *
    * Composition, not a join: BOTH directions come from ONE
    * user-partitioned sort — a backward frame carrying the last
    * purchase's (ts, value) and a forward frame carrying the next's —
    * then a pure row-local CASE picks the nearer side. Same
    * one-exchange scale shape as [[asofOver]]; the purchase-before-
    * click tie order makes the backward frame see a same-ts purchase
    * (dt 0), which no forward candidate can beat, so the forward
    * frame missing it is harmless. Clicks from users with no
    * purchases keep NULLs (both engines agree — no 0/0-style NaN
    * hazard, the CASE returns NULL through).
    */
  def asofNearest(s: SparkSession, dir: String): DataFrame =
    asofNearestOver(ev(s, dir))

  /** The nearest-as-of transform over any (user_id, event_id, ts,
    * event_type, value) frame — split from the scan so AsofSpec can
    * plant the tie/edge cases ([[asofOver]]'s discipline).
    */
  def asofNearestOver(events: DataFrame): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    val ord = Seq(col("ts"), when(isPurchase, 0).otherwise(1), col("event_id"))
    val wBack = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("user_id")).orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val us = unix_micros(col("ts"))
    val prevNearer = (us - col("prev_us")) <= (col("next_us") - us)
    // all four window columns in ONE projection: chained withColumns
    // planned four stacked Window nodes with a local re-sort between
    // each; a single select lets CollapseWindow fuse them over one
    // user-keyed exchange + one in-partition sort
    events
      .select(col("*"),
        last(when(isPurchase, us), ignoreNulls = true).over(wBack)
          .as("prev_us"),
        last(when(isPurchase, col("value")), ignoreNulls = true).over(wBack)
          .as("prev_val"),
        first(when(isPurchase, us), ignoreNulls = true).over(wFwd)
          .as("next_us"),
        first(when(isPurchase, col("value")), ignoreNulls = true).over(wFwd)
          .as("next_val"))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        when(col("prev_us").isNull && col("next_us").isNull, lit(null))
          .when(col("next_us").isNull, col("prev_val"))
          .when(col("prev_us").isNull, col("next_val"))
          .when(prevNearer, col("prev_val"))
          .otherwise(col("next_val")).as("nearest_purchase_value"),
        when(col("prev_us").isNull && col("next_us").isNull,
            lit(null).cast("long"))
          .when(col("next_us").isNull, us - col("prev_us"))
          .when(col("prev_us").isNull, col("next_us") - us)
          .when(prevNearer, us - col("prev_us"))
          .otherwise(col("next_us") - us).as("dt_us"))
      .orderBy(col("user_id"), col("click_id"))
  }

  val asofNearestSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    epoch_us(ts::TIMESTAMP) AS us,
      |    LAST_VALUE(CASE WHEN event_type = 'purchase'
      |                    THEN epoch_us(ts::TIMESTAMP) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts,
      |              CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END,
      |              event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS prev_us,
      |    LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
      |               IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts,
      |              CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END,
      |              event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS prev_val,
      |    FIRST_VALUE(CASE WHEN event_type = 'purchase'
      |                     THEN epoch_us(ts::TIMESTAMP) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts,
      |              CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END,
      |              event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS next_us,
      |    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
      |                IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts,
      |              CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END,
      |              event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS next_val
      |  FROM events)
      |SELECT user_id, event_id AS click_id,
      |  CASE WHEN prev_us IS NULL AND next_us IS NULL THEN NULL
      |       WHEN next_us IS NULL THEN prev_val
      |       WHEN prev_us IS NULL THEN next_val
      |       WHEN (us - prev_us) <= (next_us - us) THEN prev_val
      |       ELSE next_val END AS nearest_purchase_value,
      |  CASE WHEN prev_us IS NULL AND next_us IS NULL
      |         THEN CAST(NULL AS BIGINT)
      |       WHEN next_us IS NULL THEN us - prev_us
      |       WHEN prev_us IS NULL THEN next_us - us
      |       WHEN (us - prev_us) <= (next_us - us) THEN us - prev_us
      |       ELSE next_us - us END AS dt_us
      |FROM o WHERE event_type = 'click'
      |ORDER BY user_id, click_id""".stripMargin

  /** Interval-OVERLAP join: per (user, day, event type) activity
    * bursts [first event, last event] self-joined on time overlap
    * across DIFFERENT types of the same user, rolled up to the daily
    * co-engagement matrix (day, type_a, type_b) → users whose bursts
    * overlapped + total overlap time. Closed intervals; a point touch
    * counts with overlap 0. The interval×interval sibling of
    * [[rangeJoinNearby]]'s point-radius join — "which engagement modes
    * co-occur in time" is the behavioral read, and the operator shape
    * is the general two-interval-set overlap join.
    *
    * Scale shape — banded equi-join, the [[rangeJoinNearby]]
    * discipline extended to intervals: each interval replicates into
    * every day-sized bin it TOUCHES (a `sequence` explode — bounded
    * fan, here 1 bin since bursts are day-contained by construction,
    * ≤ span/bin + 1 in general), the join is a plain hash equi-join on
    * (user_id, bin) + ordered type pair, and each qualifying pair is
    * kept exactly once WITHOUT a distinct pass: only in the bin
    * containing the overlap's START (`greatest(a0, b0) div bin` — a
    * bin both sides provably emitted). Work is Σ per-bin occupancy
    * products (≤ |event types|² per user-day), never |intervals|²; no
    * inequality-driven nested loop anywhere.
    */
  def rangeJoinOverlap(s: SparkSession, dir: String): DataFrame = {
    val binUs = 86400L * 1000000
    val iv = ev(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("t0"),
        max(unix_micros(col("ts"))).as("t1"))
    val withBin = iv.withColumn("bin",
      explode(sequence(expr(s"t0 div $binUs"), expr(s"t1 div $binUs"))))
    val a = withBin.select(col("user_id"), col("bin"), col("d"),
      col("event_type").as("type_a"), col("t0").as("a0"), col("t1").as("a1"))
    val b = withBin.select(col("user_id"), col("bin"),
      col("event_type").as("type_b"), col("t0").as("b0"), col("t1").as("b1"))
    a.join(b, Seq("user_id", "bin"))
      .filter(col("type_a") < col("type_b"))
      .filter(col("a0") <= col("b1") && col("b0") <= col("a1"))
      .filter(col("bin") === expr(s"greatest(a0, b0) div $binUs"))
      .groupBy(col("d"), col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_users"),
        sum(least(col("a1"), col("b1")) - greatest(col("a0"), col("b0")))
          .as("total_overlap_us"))
      .orderBy(col("d"), col("type_a"), col("type_b"))
  }

  /** Continuous-approximation MLE of the power-law exponent of the
    * per-user activity distribution with x_min = 1 (Clauset, Shalizi
    * & Newman, SIAM Rev. 2009, eq. 3.1): α = 1 + n / Σᵢ ln(xᵢ) — the
    * one-number heavy-tail read behind [[Sampling.skewHistogram]]'s
    * bucket view, and the quantity a capacity planner fits before
    * sizing skew mitigation (α near 2 = extreme hubs; α > 3 = tails
    * thin enough to ignore).
    *
    * Determinism: each ln(xᵢ) is the MICRONAT integer
    * `round(ln(x)·1e6)` of an exact BIGINT count — the
    * [[GraphQueries.adamicAdar]] discipline, bit-agreed across engines
    * — so Σ ln is an exact BIGINT and α is one IEEE chain. An
    * all-singletons corpus (Σ = 0) yields NULL, never an Infinity the
    * engines could disagree on.
    *
    * Shape: one user-keyed count aggregation with map-side partials,
    * then a 1-row reduce. The user grid never funnels: the micronat
    * map is narrow and the final aggregate is a grand total.
    */
  def powerLawAlpha(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("n_events"),
        sum(expr("cast(round(ln(cast(x as double)) * 1e6) as bigint)"))
          .as("s"))
      .select(col("n").as("n_users"), col("n_events"),
        col("s").as("sum_ln_micro"),
        when(col("s") === 0, lit(null).cast("double"))
          .otherwise(lit(1.0)
            + col("n").cast("double") * lit(1e6) / col("s").cast("double"))
          .as("alpha"))

  val powerLawAlphaSql: String =
    """WITH c AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY user_id),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS n_events,
      |    CAST(SUM(CAST(round(ln(CAST(x AS DOUBLE)) * 1e6) AS BIGINT))
      |         AS BIGINT) AS s
      |  FROM c)
      |SELECT n AS n_users, n_events, s AS sum_ln_micro,
      |  CASE WHEN s = 0 THEN CAST(NULL AS DOUBLE)
      |       ELSE 1.0 + CAST(n AS DOUBLE) * 1e6 / CAST(s AS DOUBLE)
      |  END AS alpha
      |FROM g""".stripMargin

  val rangeJoinOverlapSql: String =
    """WITH iv AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, event_type,
      |    MIN(epoch_us(ts::TIMESTAMP)) AS t0,
      |    MAX(epoch_us(ts::TIMESTAMP)) AS t1
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT a.d, a.event_type AS type_a, b.event_type AS type_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(least(a.t1, b.t1) - greatest(a.t0, b.t0)) AS BIGINT)
      |    AS total_overlap_us
      |FROM iv a JOIN iv b ON a.user_id = b.user_id
      |  AND a.event_type < b.event_type
      |  AND a.t0 <= b.t1 AND b.t0 <= a.t1
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Time-decay multi-touch attribution: every touch before a user's
    * next purchase earns credit that HALVES per elapsed hour —
    * channels that touch close to conversion earn more, the standard
    * position-independent alternative to [[attributionLastTouch]].
    *
    * The decay is deliberately DYADIC, not exponential:
    * `credit = 1e6 div 2^hours` is exact BIGINT arithmetic, whereas
    * `exp(−Δt/τ)` would put libm's exp on the hash path — a cross-
    * engine parity surface this repo has never needed and ln-micronat
    * verification doesn't cover. Halving per hour IS an exponential
    * decay (τ = 1h/ln2), just one whose weights are exactly
    * representable; the natural cutoff is built in (2^20 > 1e6 ⇒
    * credit 0 beyond ~20 h, with the shift clamped there so elapsed
    * days can't overflow the shift width).
    *
    * Shape: the next-purchase timestamp rides [[asofNextPurchase]]'s
    * one-exchange forward window; credits are exact integers summed
    * per channel — one user_id exchange plus one channel-bounded
    * aggregation, no self-join.
    */
  def attributionTimeDecay(s: SparkSession, dir: String): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), when(isPurchase, 1).otherwise(0), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev(s, dir)
      .withColumn("pus",
        first(when(isPurchase, unix_micros(col("ts"))), ignoreNulls = true)
          .over(w))
      .filter(!isPurchase && col("pus").isNotNull)
      .withColumn("h",
        expr("least((pus - unix_micros(ts)) div 3600000000, 20L)"))
      .withColumn("credit_micro",
        expr("1000000L div shiftleft(1L, cast(h as int))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_micro")).as("credit_micro"))
      .orderBy(col("event_type"))
  }

  val attributionTimeDecaySql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    FIRST_VALUE(CASE WHEN event_type = 'purchase'
      |                     THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts,
      |              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END,
      |              event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pus
      |  FROM events),
      |c AS (
      |  SELECT event_type,
      |    least(CAST(((pus - epoch_us(ts))
      |                - ((pus - epoch_us(ts)) % 3600000000)) / 3600000000
      |               AS BIGINT), 20) AS h
      |  FROM o WHERE event_type <> 'purchase' AND pus IS NOT NULL)
      |SELECT event_type, COUNT(*) AS n_touches,
      | CAST(SUM(CAST((1000000 - (1000000 % CAST(power(2, h) AS BIGINT)))
      |               / CAST(power(2, h) AS BIGINT) AS BIGINT)) AS BIGINT)
      |   AS credit_micro
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  val asofPurchaseSql: String =
    """WITH clicks AS (
      |  SELECT user_id, event_id AS click_id, ts FROM events
      |  WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, p.value AS last_purchase_value
      |FROM clicks c ASOF LEFT JOIN purchases p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.user_id, c.click_id""".stripMargin

  // --- sessionization -----------------------------------------------------------
  /** Gap-based sessionization (30-minute inactivity closes a session):
    * per (user, session) event count and value total. Batch dual of the
    * streaming flatMapGroupsWithState sessionizer.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wOrd)
    val brk = when(gap > 30L * 60 * 1000000, 1L).otherwise(0L)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("session_id", sum(brk).over(wCum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val sessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN epoch_us(ts::TIMESTAMP)
      |           - LAG(epoch_us(ts::TIMESTAMP)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |se AS (
      |  SELECT user_id, event_id, value,
      |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
      |FROM se GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // --- peak concurrency (interval sweep) --------------------------------------
  /** Peak concurrent-session moments: the top-5 instants by number of
    * simultaneously-open sessions (30-minute-gap sessions, the
    * [[sessionize]] semantics). This is the SWEEP-LINE spelling of
    * interval-overlap counting — each session contributes +1 at its
    * start and −1 just after its inclusive end, and concurrency at any
    * instant is the prefix sum of the boundary deltas — which replaces
    * the pairwise overlap join (quadratic in overlapping intervals,
    * unbounded on a dense corpus) with one sort-free aggregation plus a
    * prefix sum.
    *
    * Scale shape: the prefix sum is computed as a TWO-LEVEL distributed
    * scan, not one global window — within-day running sums (window
    * partitioned by day, bounded by a day's boundary count) plus a
    * day-level carry-in (cumulative over the day-cardinality aggregate,
    * broadcast back). That is the textbook parallel prefix-sum
    * decomposition, so no stage ever moves all boundaries into one
    * partition; the final top-5 is a WindowGroupLimit-capped rank.
    * Every quantity is an exact BIGINT.
    */
  def maxConcurrency(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wOrd)
    val brk = when(gap > 30L * 60 * 1000000, 1L).otherwise(0L)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = ev(s, dir)
      .withColumn("session_id", sum(brk).over(wCum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
    val deltas = sessions
      .select(explode(array(
        struct(col("s_us").as("us"), lit(1L).as("dlt")),
        struct((col("e_us") + 1L).as("us"), lit(-1L).as("dlt")))).as("b"))
      .select(col("b.us").as("us"), col("b.dlt").as("dlt"))
      .groupBy(col("us")).agg(sum(col("dlt")).as("dlt"))
    // materialized boundary aggregate: the day totals and the in-day
    // running sums both read it
    val byDay = graft.Graft.materialize(
      deltas.withColumn("day", expr("us div 86400000000")))
    val wInDay = Window.partitionBy(col("day")).orderBy(col("us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDays = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = byDay.groupBy(col("day")).agg(sum(col("dlt")).as("day_sum"))
      .withColumn("carry_in",
        coalesce(sum(col("day_sum")).over(wDays), lit(0L)))
      .select(col("day"), col("carry_in"))
    // top-5 via distributed TakeOrderedAndProject — the old global
    // rank window sorted EVERY boundary point on one partition just to
    // keep 5 rows; the 5-row rank window after the cut is grid-sized
    byDay
      .withColumn("run", sum(col("dlt")).over(wInDay))
      .join(broadcast(carry), Seq("day"))
      .select(col("us"), (col("carry_in") + col("run")).as("concurrent"))
      .orderBy(col("concurrent").desc, col("us"))
      .limit(5)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("concurrent").desc, col("us"))).cast("long"))
      .select(col("rnk"), col("us"), col("concurrent"))
      .orderBy(col("rnk"))
  }

  /** Oracle: the single-prefix-sum spelling — equivalent because the
    * day split partitions an ordering that is monotone in `us`.
    */
  val maxConcurrencySql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts::TIMESTAMP)
      |           - LAG(epoch_us(ts::TIMESTAMP)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |se AS (
      |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us,
      |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g),
      |sess AS (
      |  SELECT user_id, session_id, MIN(us) AS s_us, MAX(us) AS e_us
      |  FROM se GROUP BY user_id, session_id),
      |b AS (
      |  SELECT s_us AS us, 1 AS dlt FROM sess
      |  UNION ALL
      |  SELECT e_us + 1, -1 FROM sess),
      |d AS (SELECT us, CAST(SUM(dlt) AS BIGINT) AS dlt FROM b GROUP BY us),
      |c AS (
      |  SELECT us, CAST(SUM(dlt) OVER (ORDER BY us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS concurrent
      |  FROM d),
      |r AS (
      |  SELECT us, concurrent,
      |    CAST(row_number() OVER (ORDER BY concurrent DESC, us) AS BIGINT)
      |      AS rnk
      |  FROM c)
      |SELECT rnk, us, concurrent FROM r WHERE rnk <= 5 ORDER BY rnk""".stripMargin

  // --- behavioral entropy -------------------------------------------------------
  /** Distribution of per-user behavioral entropy: each user's
    * event-type Shannon entropy (how varied their behavior is — 0 for
    * single-action users), summarized as exact positional quartiles
    * over the user population. The segmentation health metric: a
    * collapsing median entropy means the product funnels everyone into
    * one action.
    *
    * Per-user entropy follows the [[TextQueries.charEntropy]] EXACT
    * integer-micronat identity n·lnµ(n) − Σ k·lnµ(k) (an exact BIGINT
    * per user — no per-user division ever happens), and the
    * population quartiles are exact order statistics at ceil(q·n) over
    * those integers ([[interArrival]] discipline). The only IEEE step
    * scales the three selected integers to nats.
    *
    * Shape: one (user, type) aggregate, one user-sized rollup, one
    * rank over the user-sized entropy column.
    */
  def userEntropy(s: SparkSession, dir: String): DataFrame = {
    val lnMicro = (c: Column) =>
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val perType = ev(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("k"))
    val perUser = perType.groupBy(col("user_id"))
      .agg(sum(col("k")).as("n"), sum(col("k") * lnMicro(col("k"))).as("s"))
      .select(col("user_id"),
        ((col("n") * lnMicro(col("n")) - col("s")).cast("double")
          / (col("n").cast("double") * 1e6)).as("h_nats"))
    // two-pass range-partitioned rank: the user grid grows with SF, so
    // the quartile positions come from Graft.rankedByRange instead of
    // a single-partition row_number sort
    val ranked = graft.Graft.materialize(
      graft.Graft.rankedByRange(perUser, col("h_nats"), col("user_id")))
    val tot = ranked.agg(count(lit(1)).as("m"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("m"))
      .agg(
        sum(when(col("i") === expr("(m + 3) div 4"), col("h_nats")))
          .as("q1_nats"),
        sum(when(col("i") === expr("(m + 1) div 2"), col("h_nats")))
          .as("median_nats"),
        sum(when(col("i") === expr("(3 * m + 3) div 4"), col("h_nats")))
          .as("q3_nats"))
      .select(col("m").as("n_users"), col("q1_nats"), col("median_nats"),
        col("q3_nats"))
  }

  val userEntropySql: String = {
    val p1 = PortableSql.intDiv("m + 3", "4")
    val p2 = PortableSql.intDiv("m + 1", "2")
    val p3 = PortableSql.intDiv("3 * m + 3", "4")
    s"""WITH kt AS (
      |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM events GROUP BY user_id, event_type),
      |u AS (
      |  SELECT user_id, CAST(SUM(k) AS BIGINT) AS n,
      |    CAST(SUM(k * CAST(round(ln(CAST(k AS DOUBLE)) * 1e6) AS BIGINT))
      |         AS BIGINT) AS s
      |  FROM kt GROUP BY user_id),
      |h AS (
      |  SELECT user_id,
      |    CAST(n * CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) - s
      |         AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS h_nats
      |  FROM u),
      |r AS (
      |  SELECT h_nats,
      |    CAST(row_number() OVER (ORDER BY h_nats, user_id) AS BIGINT) AS i
      |  FROM h),
      |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM r)
      |SELECT m AS n_users,
      |  SUM(CASE WHEN i = $p1 THEN h_nats END) AS q1_nats,
      |  SUM(CASE WHEN i = $p2 THEN h_nats END) AS median_nats,
      |  SUM(CASE WHEN i = $p3 THEN h_nats END) AS q3_nats
      |FROM r, mm GROUP BY m""".stripMargin
  }

  // --- mutual information (event_type × day-of-week) --------------------------
  /** Mutual information between event TYPE and DAY-OF-WEEK — "does the
    * traffic mix depend on the weekday" as ONE number (plus marginal
    * entropies and the min-normalized NMI in [0,1]) — the feature-
    * dependence screen a pipeline runs before trusting a column pair
    * to be independent (stratification, leakage, drift design). MI =
    * Σ_xy p_xy ln(p_xy/(p_x p_y)) (Cover & Thomas ch. 2). The
    * likelihood-ratio independence statistic rides for free: G = 2n·MI
    * = 2·mi_micronats/1e6, χ²₍(r−1)(c−1)₎-distributed under
    * independence (Sokal & Rohlf's G-test), so this one frame is also
    * the exact-integer independence test the χ² spelling would need
    * fractional expected counts for.
    *
    * Hash-exact by the integer-micronat discipline ([[userEntropy]],
    * TextQueries.charEntropy): MI·n·1e6 = Σ_xy c_xy·(lnµ(c_xy) +
    * lnµ(n) − lnµ(c_x) − lnµ(c_y)) — every term an exact BIGINT
    * (|term| ≤ n·lnµ(n) ≈ 1.4e17 at n = 6e9, inside int64 headroom to
    * SF ~1e4), marginal entropies the same way, and every reported
    * double is ONE IEEE division of bit-identical integers. NMI
    * guards its 0/0 (a constant column ⇒ zero min-entropy) with NULL
    * per the repo discipline.
    *
    * Scale shape: ONE fact-table aggregation to the |types|·7 grid
    * (map-side combined); everything downstream — margins, totals,
    * the term table — is grid-sized driver metadata joined by
    * broadcast. The grid is materialized once so margins/totals don't
    * re-run the fact scan.
    */
  def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    val lnMicro = (c: Column) =>
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val grid = graft.Graft.materialize(
      ev(s, dir)
        .select(col("event_type").as("x"),
          (datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) % 7)
            .cast("long").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy")))
    val mx = grid.groupBy(col("x")).agg(sum(col("cxy")).as("cx"))
    val my = grid.groupBy(col("y")).agg(sum(col("cxy")).as("cy"))
    val tot = grid.agg(sum(col("cxy")).as("n"))
    val mi = grid.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(tot))
      .select((col("cxy") * (lnMicro(col("cxy")) + lnMicro(col("n"))
        - lnMicro(col("cx")) - lnMicro(col("cy")))).as("term"))
      .agg(sum(col("term")).as("mi_sum"))
    val hx = mx.agg(sum(col("cx") * lnMicro(col("cx"))).as("sx"),
      count(lit(1)).as("n_types"))
    val hy = my.agg(sum(col("cy") * lnMicro(col("cy"))).as("sy"),
      count(lit(1)).as("n_dows"))
    val nd = col("n").cast("double")
    val hxT = col("n") * lnMicro(col("n")) - col("sx")
    val hyT = col("n") * lnMicro(col("n")) - col("sy")
    mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .crossJoin(broadcast(tot))
      .select(col("n").as("n_events"), col("n_types"), col("n_dows"),
        col("mi_sum").as("mi_micronats"),
        (col("mi_sum").cast("double") / (nd * lit(1e6))).as("mi_nats"),
        (hxT.cast("double") / (nd * lit(1e6))).as("h_type_nats"),
        (hyT.cast("double") / (nd * lit(1e6))).as("h_dow_nats"),
        when(least(hxT, hyT) === 0, lit(null).cast("double"))
          .otherwise(col("mi_sum").cast("double")
            / least(hxT, hyT).cast("double")).as("nmi"))
  }

  val mutualInfoSql: String = {
    def lnu(v: String): String =
      s"CAST(round(ln(CAST($v AS DOUBLE)) * 1e6) AS BIGINT)"
    s"""WITH b AS (
      |  SELECT event_type AS x,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
      |         AS BIGINT) AS y
      |  FROM events),
      |g AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy
      |      FROM b GROUP BY x, y),
      |mx AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM g GROUP BY x),
      |my AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM g GROUP BY y),
      |t AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM g),
      |mi AS (
      |  SELECT CAST(SUM(cxy * (${lnu("cxy")} + ${lnu("n")}
      |           - ${lnu("cx")} - ${lnu("cy")})) AS BIGINT) AS mi_sum
      |  FROM g JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t),
      |hx AS (SELECT CAST(SUM(cx * ${lnu("cx")}) AS BIGINT) AS sx,
      |              CAST(COUNT(*) AS BIGINT) AS n_types FROM mx),
      |hy AS (SELECT CAST(SUM(cy * ${lnu("cy")}) AS BIGINT) AS sy,
      |              CAST(COUNT(*) AS BIGINT) AS n_dows FROM my)
      |SELECT n AS n_events, n_types, n_dows, mi_sum AS mi_micronats,
      |  CAST(mi_sum AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mi_nats,
      |  CAST(n * ${lnu("n")} - sx AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * 1e6) AS h_type_nats,
      |  CAST(n * ${lnu("n")} - sy AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * 1e6) AS h_dow_nats,
      |  CASE WHEN least(n * ${lnu("n")} - sx, n * ${lnu("n")} - sy) = 0
      |       THEN NULL
      |       ELSE CAST(mi_sum AS DOUBLE)
      |         / CAST(least(n * ${lnu("n")} - sx, n * ${lnu("n")} - sy)
      |                AS DOUBLE) END AS nmi
      |FROM mi, hx, hy, t""".stripMargin
  }

  // --- burstiness (Fano factor) ------------------------------------------------
  /** Burstiness of each event type: the Fano factor (index of
    * dispersion, var/mean) of its daily event counts — 1 for a
    * Poisson process, > 1 for bursty traffic, < 1 for regular. The
    * monitoring scalar behind "is this feed arriving in clumps", and
    * the per-type companion to the inter-arrival percentiles.
    *
    * Sample variance and mean come from exact BIGINT day-count
    * moments (d, Σc, Σc² over observed days) in one fixed IEEE chain.
    * Shape: fact table → (type, day) counts (one map-side-combined
    * aggregate) → per-type 3-number rollup; nothing larger than the
    * type×day grid is exchanged.
    */
  def burstiness(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
        // Σc² in DECIMAL: daily counts grow linearly with SF, so the
        // BIGINT square sum has a finite ceiling (~SF 1.5e6) — decimal
        // removes it for free (the autocorrelation decimal-moments rule)
        sum(col("c").cast("decimal(18,0)") * col("c").cast("decimal(18,0)"))
          .as("scc"))
      .select(col("event_type"), col("n_days"),
        (col("sc").cast("double") / col("n_days").cast("double"))
          .as("mean_daily"),
        // a type observed on ONE day has no sample variance: 0/0 is
        // NaN in Spark but NULL in DuckDB — emit NULL in both
        when(col("n_days") > 1L,
          ((col("n_days").cast("double") * col("scc").cast("double")
            - col("sc").cast("double") * col("sc").cast("double"))
            / (col("n_days").cast("double")
              * (col("n_days").cast("double") - 1.0)))
            / (col("sc").cast("double") / col("n_days").cast("double")))
          .otherwise(lit(null).cast("double"))
          .as("fano"))
      .orderBy(col("event_type"))
  }

  val burstinessSql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS sc,
      |    SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))) AS scc
      |  FROM d GROUP BY event_type)
      |SELECT event_type, n_days,
      |  CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
      |  CASE WHEN n_days > 1 THEN
      |    ((CAST(n_days AS DOUBLE) * CAST(CAST(scc AS VARCHAR) AS DOUBLE)
      |       - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
      |      / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)))
      |    / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
      |  ELSE NULL END AS fano
      |FROM m ORDER BY event_type""".stripMargin

  // --- attribution-gap pattern (negation) --------------------------------------
  /** Un-attributed purchases per day: purchases with NO click by the
    * same user in the preceding 24 hours — the NEGATION pattern of
    * complex-event processing ("B not preceded by A within T"), which
    * the funnel/attribution operators can't express because they only
    * match presence. The share of un-attributed purchases is the
    * health metric for a tracking pipeline (a spike means lost click
    * telemetry or genuinely organic demand).
    *
    * Spelled as ONE window pass (the [[asofOver]] discipline): per
    * user in time order, `last(click ts, ignoreNulls)` carries the
    * most recent click forward; a purchase is un-attributed when that
    * carry is null or older than 24 h. At equal timestamps the click
    * sorts BEFORE the purchase so an instantaneous click→purchase
    * attributes. No self-join of events exists; counts are exact.
    */
  def unattributedPurchases(s: SparkSession, dir: String): DataFrame = {
    val isClick = col("event_type") === "click"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), when(isClick, 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("last_click_us",
        last(when(isClick, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("d"),
        (col("last_click_us").isNull ||
          unix_micros(col("ts")) - col("last_click_us") > 24L * 3600 * 1000000)
          .as("unattr"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("unattr"), 1L).otherwise(0L)).as("n_unattributed"))
      .withColumn("share",
        col("n_unattributed").cast("double") / col("n_purchases").cast("double"))
      .orderBy(col("d"))
  }

  val unattributedPurchasesSql: String =
    """WITH cp AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    epoch_us(ts::TIMESTAMP) AS us
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |lc AS (
      |  SELECT event_type, ts, us,
      |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
      |                     event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_click_us
      |  FROM cp),
      |p AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    (last_click_us IS NULL OR us - last_click_us > 86400000000) AS unattr
      |  FROM lc WHERE event_type = 'purchase')
      |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CASE WHEN unattr THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unattributed,
      |  CAST(SUM(CASE WHEN unattr THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS share
      |FROM p GROUP BY d ORDER BY d""".stripMargin

  // --- audience reach curve ----------------------------------------------------
  /** Cumulative audience reach by day: per day, the count of
    * FIRST-EVER-SEEN users and the running total of distinct users to
    * date — the growth-accounting curve behind "total users reached".
    * The scalable spelling reduces "distinct users up to each day"
    * (naive: one distinct-count per day over an ever-growing prefix,
    * O(days · events)) to ONE first-touch aggregate per user plus a
    * prefix sum over the day-sized grid: a user contributes exactly
    * once, at their first day, and the cumulative count telescopes.
    * All quantities are exact BIGINTs.
    */
  def reachCurve(s: SparkSession, dir: String): DataFrame = {
    val firstDay = ev(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    val wCum = Window.orderBy(col("d0"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy(col("d0")).agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(wCum))
      .select(col("d0").as("d"), col("n_new"), col("cum_users"))
      .orderBy(col("d"))
  }

  val reachCurveSql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
      |  FROM events GROUP BY user_id),
      |g AS (SELECT d0, CAST(COUNT(*) AS BIGINT) AS n_new FROM f GROUP BY d0)
      |SELECT d0 AS d, n_new,
      |  CAST(SUM(n_new) OVER (ORDER BY d0
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM g ORDER BY d""".stripMargin

  // --- session path mining -----------------------------------------------------
  /** Top-10 three-step journeys: the most frequent ordered event-type
    * trigrams WITHIN a session (30-minute-gap sessions, [[sessionize]]
    * semantics) — the "what do users do next" path report that extends
    * [[markovTransitions]]' one-step matrix to length-3 sequences.
    * Consecutive steps come from two `lead`s over the session-ordered
    * events (the same single window pass as the transition matrix — a
    * path never crosses a session boundary because session_id is in
    * the partition key), so no self-join of the events table exists.
    * Counts are exact; the top-10 cut breaks ties on the path string.
    */
  def sessionPaths(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wOrd)
    val brk = when(gap > 30L * 60 * 1000000, 1L).otherwise(0L)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessioned = ev(s, dir)
      .withColumn("session_id", sum(brk).over(wCum))
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    sessioned
      .withColumn("e2", lead(col("event_type"), 1).over(wSess))
      .withColumn("e3", lead(col("event_type"), 2).over(wSess))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n").desc, col("path"))).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("rnk"), col("path"), col("n"))
      .orderBy(col("rnk"))
  }

  val sessionPathsSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN epoch_us(ts::TIMESTAMP)
      |           - LAG(epoch_us(ts::TIMESTAMP)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |se AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g),
      |tri AS (
      |  SELECT event_type || '>' || LEAD(event_type, 1) OVER ws
      |      || '>' || LEAD(event_type, 2) OVER ws AS path,
      |    LEAD(event_type, 2) OVER ws AS e3
      |  FROM se
      |  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)),
      |cnt AS (
      |  SELECT path, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM tri WHERE e3 IS NOT NULL GROUP BY path),
      |r AS (
      |  SELECT path, n,
      |    CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rnk
      |  FROM cnt)
      |SELECT rnk, path, n FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin

  // --- range join (binned) ----------------------------------------------------
  /** Time-proximity range self-join: pairs of same-user events within
    * `windowSec` of each other. A naive `|t_a - t_b| <= W` predicate
    * plans a nested-loop join (O(n^2) per user); the scale-correct form
    * BINS time into W-wide buckets and equi-joins on (user, bin) with
    * the probe side exploded to its 3 adjacent bins — any qualifying
    * pair's bins differ by at most 1, and the (a.bin = b.probe,
    * a_id < b_id) combination matches each unordered pair EXACTLY once,
    * so no post-join dedup is needed. The refine filter then applies
    * the exact microsecond predicate. Candidate volume is bounded by
    * bin occupancy, never |events|^2 — the standard interval-join
    * banding that survives a 100x scale-up.
    */
  def rangeJoinNearby(s: SparkSession, dir: String,
                      windowSec: Int = 300): DataFrame = {
    val wUs = windowSec * 1000000L
    val e = ev(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"))
    val a = e.select(col("user_id"), expr(s"us div $wUs").as("bin"),
      col("event_id").as("a_id"), col("us").as("a_us"))
    val b = e.select(col("user_id"),
      explode(array(expr(s"us div $wUs") - 1, expr(s"us div $wUs"),
        expr(s"us div $wUs") + 1)).as("bin"),
      col("event_id").as("b_id"), col("us").as("b_us"))
    a.join(b, Seq("user_id", "bin"))
      .filter(col("a_id") < col("b_id"))
      .filter(abs(col("a_us") - col("b_us")) <= wUs)
      .select(col("user_id"), col("a_id"), col("b_id"),
        abs(col("a_us") - col("b_us")).as("dt_us"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val rangeJoinNearbySql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS us
      |           FROM events)
      |SELECT a.user_id,
      |       a.event_id AS a_id, b.event_id AS b_id,
      |       abs(a.us - b.us) AS dt_us
      |FROM e a JOIN e b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND abs(a.us - b.us) <= 300000000
      |ORDER BY a_id, b_id""".stripMargin

  // --- ordered funnel ---------------------------------------------------------
  /** Three-stage ordered funnel: a user progresses view -> click ->
    * purchase only if each stage's first qualifying event happens
    * STRICTLY AFTER the previous stage's (an earlier click does not
    * count toward a later view). Emits users-per-stage — the conversion
    * report.
    *
    * Shape at scale: each stage is a filtered scan aggregated to one
    * (user_id, min ts) row, then joined to the previous stage's frame —
    * three partial-aggregated shuffles on user_id and two equi-joins of
    * per-user singletons, never a per-user event-list materialization
    * (collect_list of a whale user's events is the shape that OOMs at
    * 100 TB; conditional-min chains are bounded at one row per user per
    * stage). AQE coalesces the tiny stage frames' partitions.
    */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelOver(ev(s, dir))

  /** funnel over an arbitrary events frame (planted-data tests) */
  def funnelOver(e: DataFrame): DataFrame = {
    def stage(typ: String) = e.filter(col("event_type") === typ)
    val v = stage("view").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = stage("click").join(v, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = stage("purchase").join(c, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.select(lit("stage1_view").as("stage"))
      .union(c.select(lit("stage2_click")))
      .union(p.select(lit("stage3_purchase")))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  val funnelSql: String =
    """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |           WHERE event_type='view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type='click' AND e.ts > v.t1 GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type='purchase' AND e.ts > c.t2 GROUP BY e.user_id)
      |SELECT stage, COUNT(*) AS n_users FROM (
      |  SELECT 'stage1_view' AS stage FROM v
      |  UNION ALL SELECT 'stage2_click' FROM c
      |  UNION ALL SELECT 'stage3_purchase' FROM p) q
      |GROUP BY stage ORDER BY stage""".stripMargin

  // --- CDC latest-state compaction ---------------------------------------------
  /** Latest-wins upsert compaction: treat the event log as a CDC
    * changelog keyed by user_id and reduce it to current state — the
    * newest full row per key, ties broken by the unique event_id. This
    * is the MERGE-materialization every ingestion pipeline runs to turn
    * an append-only log into a queryable current-state table (the batch
    * dual of `dropDuplicates` in [[graft.streaming.EventsStream]]).
    *
    * Shape at scale: ONE hash exchange on the key, an in-partition sort,
    * and a rank filter that streams over each sorted run — no per-key
    * row buffering (a collect_list/max_by-of-struct spelling buffers
    * whole rows in the aggregation buffer; row_number keeps the
    * surviving row without re-joining and without width-dependent agg
    * state). Runs against a date-partitioned log, partition pruning on
    * the log's recent days bounds the re-compaction increment.
    */
  def cdcLatestState(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), col("event_type").as("last_event_type"),
        col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  val cdcLatestStateSql: String =
    """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type, value
      |           FROM events),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM e)
      |SELECT user_id, event_id AS last_event_id, ts AS last_ts,
      | event_type AS last_event_type, value AS last_value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --- MERGE upsert (lakehouse MERGE INTO, emulated) -----------------------
  /** MERGE INTO semantics over plain DataFrames — the batch upsert every
    * lakehouse table format (Delta/Iceberg/Hudi) runs, emulated with a
    * FULL OUTER join so the engine-side mechanics are explicit:
    *
    *   target = current state per user as of 2024-01-20 (the snapshot
    *            [[cdcLatestState]] would have materialized),
    *   source = the next 5 days' changelog, reduced to newest-per-key,
    *   WHEN MATCHED AND source row is a tombstone (event_type='error')
    *     THEN DELETE;
    *   WHEN MATCHED THEN UPDATE (source is always newer by construction);
    *   WHEN NOT MATCHED THEN INSERT.
    *
    * Output carries an `action` audit column ('keep'/'update'/'insert';
    * deleted keys are absent) — the row-level audit a MERGE returns.
    *
    * Scale shape: both sides reduce to one row per key behind a single
    * hash exchange each (row_number, as in cdcLatestState), and the
    * full-outer join hashes on the same key — with both sides
    * pre-partitioned on user_id the join is co-located, and AQE picks
    * the broadcast side when the source batch is small (the common
    * case). A production MERGE adds partition pruning of the target to
    * only the files whose key range intersects the source batch
    * (dynamic file skipping); the join itself is exactly this.
    * All output columns are passthrough values — no arithmetic — so
    * oracle parity is structural.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val cutLo = lit("2024-01-20").cast("timestamp")
    val cutHi = lit("2024-01-25").cast("timestamp")
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }
    val target = latest(ev(s, dir).filter(col("ts") < cutLo))
      .select(col("user_id"), col("event_id").as("t_eid"), col("ts").as("t_ts"),
        col("event_type").as("t_type"), col("value").as("t_value"))
    val source = latest(ev(s, dir).filter(col("ts") >= cutLo && col("ts") < cutHi))
      .select(col("user_id"), col("event_id").as("s_eid"), col("ts").as("s_ts"),
        col("event_type").as("s_type"), col("value").as("s_value"))
    target.join(source, Seq("user_id"), "full_outer")
      .withColumn("action",
        when(col("s_eid").isNull, lit("keep"))
          .when(col("s_type") === "error", lit("delete"))
          .when(col("t_eid").isNull, lit("insert"))
          .otherwise(lit("update")))
      .filter(col("action") =!= "delete")
      .select(col("user_id"), col("action"),
        when(col("action") === "keep", col("t_eid")).otherwise(col("s_eid"))
          .as("last_event_id"),
        when(col("action") === "keep", col("t_ts")).otherwise(col("s_ts"))
          .as("last_ts"),
        when(col("action") === "keep", col("t_type")).otherwise(col("s_type"))
          .as("last_event_type"),
        when(col("action") === "keep", col("t_value")).otherwise(col("s_value"))
          .as("last_value"))
      .orderBy(col("user_id"))
  }

  val mergeUpsertSql: String =
    """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type,
      |                  value
      |           FROM events),
      |t0 AS (SELECT *, row_number() OVER (
      |         PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |       FROM e WHERE ts < TIMESTAMP '2024-01-20'),
      |t AS (SELECT user_id, event_id AS t_eid, ts AS t_ts,
      |             event_type AS t_type, value AS t_value
      |      FROM t0 WHERE rn = 1),
      |s0 AS (SELECT *, row_number() OVER (
      |         PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |       FROM e WHERE ts >= TIMESTAMP '2024-01-20'
      |         AND ts < TIMESTAMP '2024-01-25'),
      |s AS (SELECT user_id, event_id AS s_eid, ts AS s_ts,
      |             event_type AS s_type, value AS s_value
      |      FROM s0 WHERE rn = 1),
      |m AS (SELECT COALESCE(t.user_id, s.user_id) AS user_id,
      |        t_eid, t_ts, t_type, t_value, s_eid, s_ts, s_type, s_value,
      |        CASE WHEN s_eid IS NULL THEN 'keep'
      |             WHEN s_type = 'error' THEN 'delete'
      |             WHEN t_eid IS NULL THEN 'insert'
      |             ELSE 'update' END AS action
      |      FROM t FULL OUTER JOIN s ON t.user_id = s.user_id)
      |SELECT user_id, action,
      |  CASE WHEN action = 'keep' THEN t_eid ELSE s_eid END AS last_event_id,
      |  CASE WHEN action = 'keep' THEN t_ts ELSE s_ts END AS last_ts,
      |  CASE WHEN action = 'keep' THEN t_type ELSE s_type END
      |    AS last_event_type,
      |  CASE WHEN action = 'keep' THEN t_value ELSE s_value END AS last_value
      |FROM m WHERE action <> 'delete' ORDER BY user_id""".stripMargin

  // --- engagement: DAU + 7-day rolling active users --------------------------
  /** Daily active users and trailing-7-day active users per day.
    *
    * WAU is the classic "sliding COUNT(DISTINCT)" problem: window
    * functions can't do a distinct over a moving range, and per-day
    * self-joins re-scan the fact table 7×. The scalable spelling used
    * here fans each (day, user) out to the 7 window-days it
    * contributes to (a narrow 7× explode) and then runs ONE distinct
    * aggregate shuffled on window-day — the same shape at any scale.
    * Days past the observed range are clipped by a semi-join against
    * the distinct-days frame (broadcast: |days| is tiny).
    */
  def dauWau(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(to_date(col("ts")).as("day"), col("user_id"))
    val days = e.select(col("day")).distinct()
    val dau = e.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_dau"))
    val wau = e
      .select(explode(sequence(lit(0), lit(6))).as("off"),
        col("day"), col("user_id"))
      .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_wau"))
    dau.join(wau, Seq("day"))
      .select(col("day").cast("timestamp").as("day"), // timestamp: oracle-comparable type both engines
        col("n_dau"), col("n_wau"))
      .orderBy(col("day"))
  }

  val dauWauSql: String =
    """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM e),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS n_dau
      |        FROM e GROUP BY day),
      |c AS (SELECT day + CAST(o AS INTEGER) AS day, user_id FROM e
      |      CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o)),
      |wau AS (SELECT day, COUNT(DISTINCT user_id) AS n_wau FROM c
      |        WHERE day IN (SELECT day FROM days) GROUP BY day)
      |SELECT CAST(day AS TIMESTAMP) AS day, n_dau, n_wau
      |FROM dau JOIN wau USING (day)
      |ORDER BY day""".stripMargin

  // --- per-type value quantiles ----------------------------------------------
  /** Exact interpolated quantiles of `value` per event type — the
    * latency-percentile report shape. Spark's `percentile` and
    * DuckDB's `quantile_cont` share the same definition (linear
    * interpolation over the sorted values), and sorting doubles is
    * order-independent, so the outputs are bit-exact. Exact percentile
    * shuffles whole groups; at 100 TB switch to approx_percentile
    * (t-digest) for the same report shape with bounded state.
    */
  def valueQuantiles(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.25)).as("p25"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.75)).as("p75"),
        percentile(col("value"), lit(0.99)).as("p99"))
      .orderBy(col("event_type"))

  val valueQuantilesSql: String =
    """SELECT event_type,
      | quantile_cont(value, 0.25) AS p25,
      | quantile_cont(value, 0.50) AS p50,
      | quantile_cont(value, 0.75) AS p75,
      | quantile_cont(value, 0.99) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- robust statistics: median absolute deviation -----------------------
  /** Per-type median and MAD (median of |x - median|) — the robust
    * center/spread pair outlier-heavy telemetry needs where mean/stddev
    * are dragged by the tails (the robust dual of
    * [[anomalyZscore]]'s moment-based z).
    *
    * Two exact interpolated-percentile aggregations: medians first,
    * re-joined to the events by a BROADCAST of the types-sized medians
    * frame (the fact table is never re-shuffled for the join), then the
    * deviation median. Parity: the interpolation arithmetic is the same
    * formula both engines (established by [[valueQuantiles]]), and
    * |x - med| on bit-identical doubles is IEEE-exact.
    */
  def valueMad(s: SparkSession, dir: String): DataFrame = {
    val med = ev(s, dir).groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    ev(s, dir).join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        abs(col("value") - col("med")).as("dev"))
      .groupBy(col("event_type"), col("med"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
      .orderBy(col("event_type"))
  }

  val valueMadSql: String =
    """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |           FROM events GROUP BY event_type)
      |SELECT e.event_type, m.med,
      | quantile_cont(abs(e.value - m.med), 0.5) AS mad
      |FROM events e JOIN m USING (event_type)
      |GROUP BY e.event_type, m.med ORDER BY e.event_type""".stripMargin

  /** The 100 TB spelling of [[valueMad]]: exact `percentile` buffers
    * every group's values for a per-group sort, so its memory is
    * data-sized; `percentile_approx` (KLL-style mergeable sketch,
    * bounded state, map-side partial merge) replaces it in BOTH passes
    * with everything else — the broadcast medians re-join, the
    * IEEE-exact |x − med| — unchanged. Same exact/approx twin pattern
    * as [[Relational.customerRfmApprox]]. Sketch internals are
    * engine-specific, so the REGISTERED spelling is
    * [[valueMadApproxAudit]] (rank-guarantee violations, hash-checked);
    * AnalyticsOpsSpec additionally bounds this per-value surface
    * against the exact twin.
    */
  def valueMadApprox(s: SparkSession, dir: String,
                     accuracy: Int = 10000): DataFrame = {
    val med = ev(s, dir).groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("med"))
    ev(s, dir).join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        abs(col("value") - col("med")).as("dev"))
      .groupBy(col("event_type"), col("med"))
      .agg(percentile_approx(col("dev"), lit(0.5), lit(accuracy)).as("mad"))
      .orderBy(col("event_type"))
  }

  /** Period-over-period value-segment MIGRATION matrix: each user's
    * total event value is quintiled WITHIN the first and second
    * temporal halves of the stream, and the 5×5 transition counts —
    * plus the new-user (absent→q) and churned-user (q→absent)
    * margins — show where the value base is moving (the
    * segment-migration report a retention team reads next to
    * [[growthAccounting]]'s user-count flows; segment 0 = absent).
    *
    * Exactness: per-(half, user) values are exact BIGINT cents;
    * quintiles use the tie-free rank formula q = 1 + (5·(rank−1))
    * div n over (value, user_id) order — NOT NTILE, whose
    * remainder-bucket convention differs between engines — so every
    * assignment is exact integer arithmetic; transition counts are
    * exact.
    *
    * Scale: one events scan → (half, user) fold; ranks ride
    * [[graft.Graft.cumSumByRange]] over (half, value, user) with the
    * per-half offset subtracted (half 'a' sorts first), never a
    * global row_number window; the migration fold lands on the ≤36
    * cell grid.
    */
  def rfmMigration(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .select(unix_micros(col("ts")).as("us"), col("user_id"),
        round(col("value") * 100).cast("long").as("c"))
    val bounds = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val per = e.crossJoin(broadcast(bounds))
      .select(when(col("us") < expr("(mn + mx) div 2"), "a").otherwise("b")
        .as("half"), col("user_id"), col("c"))
      .groupBy(col("half"), col("user_id"))
      .agg(sum(col("c")).as("v"))
    val halves = per.groupBy(col("half")).agg(count(lit(1)).as("n_half"))
    val ranked = graft.Graft.cumSumByRange(per,
        Seq(col("half"), col("v"), col("user_id")), Seq(lit(1L) -> "grk"))
      .join(broadcast(halves), "half")
      .crossJoin(broadcast(halves.agg(
        sum(when(col("half") === "a", col("n_half")).otherwise(0L))
          .as("n_a"))))
      .select(col("half"), col("user_id"),
        (when(col("half") === "a", col("grk"))
          .otherwise(col("grk") - col("n_a")) - 1L).as("rk0"),
        col("n_half"))
      .select(col("half"), col("user_id"),
        (lit(1L) + expr("(5 * rk0) div n_half")).as("q"))
    val qa = ranked.filter(col("half") === "a")
      .select(col("user_id"), col("q").as("q_first"))
    val qb = ranked.filter(col("half") === "b")
      .select(col("user_id"), col("q").as("q_second"))
    qa.join(qb, Seq("user_id"), "full_outer")
      .select(coalesce(col("q_first"), lit(0L)).as("q_first"),
        coalesce(col("q_second"), lit(0L)).as("q_second"))
      .groupBy(col("q_first"), col("q_second"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("q_first"), col("q_second"))
  }

  val rfmMigrationSql: String = {
    val q = PortableSql.intDiv("5 * (rk - 1)", "n_half")
    s"""WITH e AS (
      |  SELECT epoch_us(ts) AS us, user_id,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |b AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM e),
      |per AS (
      |  SELECT CASE WHEN us < CAST(((mn + mx) - ((mn + mx) % 2)) / 2 AS BIGINT)
      |              THEN 'a' ELSE 'b' END AS half,
      |    user_id, CAST(SUM(c) AS BIGINT) AS v
      |  FROM e, b GROUP BY 1, 2),
      |r AS (
      |  SELECT half, user_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY half ORDER BY v, user_id)
      |      AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY half) AS BIGINT) AS n_half
      |  FROM per),
      |sc AS (SELECT half, user_id, 1 + ($q) AS q FROM r),
      |j AS (
      |  SELECT COALESCE(a.q, 0) AS q_first, COALESCE(bb.q, 0) AS q_second
      |  FROM (SELECT user_id, q FROM sc WHERE half = 'a') a
      |  FULL OUTER JOIN (SELECT user_id, q FROM sc WHERE half = 'b') bb
      |    ON a.user_id = bb.user_id)
      |SELECT q_first, q_second, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM j GROUP BY q_first, q_second ORDER BY q_first, q_second""".stripMargin
  }

  /** Per-event-type user REACH with its Wilson score interval
    * (Wilson, JASA 1927) — the serving-layer read behind "X% of users
    * did Y, ± what?": the Wilson interval stays inside [0,1], never
    * collapses to a point at k = 0 or k = n, and is the standard
    * recommendation over the Wald interval at any n (Brown, Cai &
    * DasGupta 2001). Reach = distinct users with the event type over
    * all distinct users, at 95%.
    *
    * Exactness: k and n are exact BIGINT distinct counts; the Wilson
    * center (p̂ + z²/2n)/(1 + z²/n) and half-width are fixed IEEE
    * chains on those integers with the SHARED z literal 1.959963985
    * (the [[graft.queries.Drift.abPowerMde]] convention), so both
    * engines run bit-identical arithmetic.
    *
    * Scale: one (type, user) distinct fold + a 1-row total-users
    * broadcast into the ≤|types| grid.
    */
  def wilsonCi(s: SparkSession, dir: String): DataFrame = {
    val tot = ev(s, dir).agg(countDistinct(col("user_id")).as("n"))
    val perType = ev(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("k"))
    val z = lit(1.959963985)
    def d(c: String): Column = col(c).cast("double")
    val p = d("k") / d("n")
    val z2n = z * z / d("n")
    val center = (p + z2n / lit(2.0)) / (lit(1.0) + z2n)
    val half = z * sqrt(p * (lit(1.0) - p) / d("n")
      + z * z / (lit(4.0) * d("n") * d("n"))) / (lit(1.0) + z2n)
    perType.crossJoin(broadcast(tot))
      .select(col("event_type"), col("k").as("n_users_with"),
        col("n").as("n_users"), p.as("reach"),
        (center - half).as("wilson_lo"), (center + half).as("wilson_hi"))
      .orderBy(col("event_type"))
  }

  val wilsonCiSql: String =
    """WITH tot AS (
      |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events),
      |pt AS (
      |  SELECT event_type,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS k
      |  FROM events GROUP BY event_type)
      |SELECT event_type, k AS n_users_with, n AS n_users,
      |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS reach,
      |  ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
      |      + (1.959963985 * 1.959963985 / CAST(n AS DOUBLE)) / 2.0)
      |    / (1.0 + 1.959963985 * 1.959963985 / CAST(n AS DOUBLE)))
      |  - (1.959963985 * sqrt(
      |      CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
      |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
      |        / CAST(n AS DOUBLE)
      |      + 1.959963985 * 1.959963985
      |        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
      |    / (1.0 + 1.959963985 * 1.959963985 / CAST(n AS DOUBLE)))
      |    AS wilson_lo,
      |  ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
      |      + (1.959963985 * 1.959963985 / CAST(n AS DOUBLE)) / 2.0)
      |    / (1.0 + 1.959963985 * 1.959963985 / CAST(n AS DOUBLE)))
      |  + (1.959963985 * sqrt(
      |      CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
      |        * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
      |        / CAST(n AS DOUBLE)
      |      + 1.959963985 * 1.959963985
      |        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
      |    / (1.0 + 1.959963985 * 1.959963985 / CAST(n AS DOUBLE)))
      |    AS wilson_hi
      |FROM pt, tot ORDER BY event_type""".stripMargin

  /** True iff the exact rank interval [n_lt+1, n_le] of a sketch
    * estimate MISSES the guaranteed window (q±ε)·n (±1 row of slack
    * for the interval-endpoint convention) — the per-quantile
    * violation predicate of the two approx-family audits below.
    * Only Spark evaluates this (the oracle pins the counters to 0),
    * so plain double arithmetic is fine here.
    */
  private[queries] def rankViol(q: Double, eps: Double, n: Column,
                                nLe: Column, nLt: Column): Column = {
    val nd = n.cast("double")
    when(nLe.cast("double") < nd * lit(q - eps) - lit(1.0)
      || nLt.cast("double") > nd * lit(q + eps) + lit(1.0), 1L).otherwise(0L)
  }

  /** Structural-oracle audit of [[valueQuantilesApprox]] (the
    * CDC-chunk pattern; per the r14 verdict, riding the same exact-
    * rank machinery as `events_quantile_rank_audit`): the estimates
    * themselves are sketch-internal, but each carries the KLL/GK rank
    * GUARANTEE — the value returned for quantile q has exact rank
    * within (q±ε)·n, ε = 1/accuracy — and that is checkable against
    * the raw data. Per event type: the recomputable group size and
    * value extremes, plus one violation counter per quantile, each
    * 0/1 and pinned to 0 by the oracle (a violated bound is a broken
    * sketch, not noise).
    *
    * Scale: the sketch fold (mergeable, fixed-size state), ONE
    * broadcast re-join of the 5-row estimate grid to events, one
    * map-side-combined fold counting ≤/< per group.
    */
  def valueQuantilesApproxAudit(s: SparkSession, dir: String,
                                accuracy: Int = 10000): DataFrame = {
    val eps = 1.0 / accuracy
    val est = ev(s, dir)
      .groupBy(col("event_type"))
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("value"), lit(0.9), lit(accuracy)).as("p90"),
        percentile_approx(col("value"), lit(0.99), lit(accuracy)).as("p99"))
    ev(s, dir).join(broadcast(est), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("p50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("value") < col("p90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("value") <= col("p99"), 1L).otherwise(0L)).as("le99"),
        sum(when(col("value") < col("p99"), 1L).otherwise(0L)).as("lt99"))
      .select(col("event_type"), col("n"), col("value_min"), col("value_max"),
        rankViol(0.5, eps, col("n"), col("le50"), col("lt50"))
          .as("p50_rank_violations"),
        rankViol(0.9, eps, col("n"), col("le90"), col("lt90"))
          .as("p90_rank_violations"),
        rankViol(0.99, eps, col("n"), col("le99"), col("lt99"))
          .as("p99_rank_violations"))
      .orderBy(col("event_type"))
  }

  val valueQuantilesApproxAuditSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(value) AS value_min, MAX(value) AS value_max,
      |  CAST(0 AS BIGINT) AS p50_rank_violations,
      |  CAST(0 AS BIGINT) AS p90_rank_violations,
      |  CAST(0 AS BIGINT) AS p99_rank_violations
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Structural-oracle audit of [[valueMadApprox]]: both sketch
    * stages carry the rank guarantee — the approximate median must
    * sit within (½±ε)·n of the values, and the approximate MAD
    * within (½±ε)·n of the |value − med| deviations — so both are
    * checkable against raw data even though the estimates themselves
    * are sketch-internal. Same shape and oracle contract as
    * [[valueQuantilesApproxAudit]].
    */
  def valueMadApproxAudit(s: SparkSession, dir: String,
                          accuracy: Int = 10000): DataFrame = {
    val eps = 1.0 / accuracy
    val est = valueMadApprox(s, dir, accuracy) // event_type, med, mad
    ev(s, dir).join(broadcast(est), "event_type")
      .select(col("event_type"), col("value"),
        abs(col("value") - col("med")).as("dev"),
        col("med"), col("mad"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("med"), 1L).otherwise(0L)).as("le_m"),
        sum(when(col("value") < col("med"), 1L).otherwise(0L)).as("lt_m"),
        sum(when(col("dev") <= col("mad"), 1L).otherwise(0L)).as("le_d"),
        sum(when(col("dev") < col("mad"), 1L).otherwise(0L)).as("lt_d"))
      .select(col("event_type"), col("n"),
        rankViol(0.5, eps, col("n"), col("le_m"), col("lt_m"))
          .as("med_rank_violations"),
        rankViol(0.5, eps, col("n"), col("le_d"), col("lt_d"))
          .as("mad_rank_violations"))
      .orderBy(col("event_type"))
  }

  val valueMadApproxAuditSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(0 AS BIGINT) AS med_rank_violations,
      |  CAST(0 AS BIGINT) AS mad_rank_violations
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- mergeable HLL sketch rollup -----------------------------------------
  /** Distinct users per trailing window WITHOUT re-touching events: one
    * pass builds a daily Apache DataSketches HLL sketch per day
    * (`hll_sketch_agg` — 4 KiB of reaggregatable state per group), and
    * any wider window is answered by UNIONING the daily sketches
    * (`hll_union_agg`) — the precompute-once / roll-up-anywhere pattern
    * that makes "distinct users over any date range of a 100 TB log" an
    * O(days) metadata query instead of a corpus re-scan. Output: one
    * row per week — keyed by the week's Monday START DATE
    * (`date_trunc('week')`), which is year-aware, unlike a bare
    * `weekofyear` number that would merge same-numbered ISO weeks from
    * different years — with the sketch-estimated distinct user count.
    *
    * No DuckDB oracle: the sketch registers are library-specific
    * (DataSketches vs DuckDB's own HLL), so this is spec-pinned
    * instead — AnalyticsOpsSpec asserts the union-of-dailies estimate
    * EQUALS the direct weekly-sketch estimate (merge associativity)
    * and that both land within the HLL error envelope of exact.
    */
  def hllRollup(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    daily
      .groupBy(date_trunc("week", col("day")).cast("date").as("week_start"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("approx_users"))
      .orderBy(col("week_start"))
  }
  /** Structural-oracle audit of [[hllRollup]]: the DataSketches
    * register state is engine-specific, but two invariants are
    * checkable beside the recomputable exact weekly distincts —
    * (a) the published HLL error envelope (lgK = 12 ⇒ rsd ≈ 1.04/64
    * ≈ 1.6%; |est − exact| ≤ 8.5%·exact is a >5σ bound a correct
    * sketch essentially never leaves), and (b) MERGE CONSISTENCY:
    * the union of daily sketches must estimate within 2%·exact of the
    * direct weekly sketch. (Not exact equality: DataSketches unions
    * transition representation modes — sparse/list vs dense HLL_4/8 —
    * so the merged gadget's registers can differ from the
    * directly-updated sketch's once cardinality leaves sparse mode;
    * measured at sf0.1, the estimates differ by ≪1% while sf0.01
    * weeks agree exactly.) The oracle hash-checks (week_start,
    * n_exact) and pins both violation counters to 0; the numeric
    * estimates stay the AnalyticsOpsSpec-bounded [[hllRollup]] API.
    *
    * Scale: the sketch legs are the [[hllRollup]] mergeable-state
    * folds; the exact leg is one (week, user) distinct-combine; the
    * joins ride the ≤|weeks| grid.
    */
  def hllRollupAudit(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val wk = (c: Column) => date_trunc("week", c).cast("date")
    val union = e.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .groupBy(wk(col("day")).as("week_start"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("est_union"))
    val direct = e.groupBy(wk(col("day")).as("week_start"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("est_direct"))
    val exact = e.groupBy(wk(col("day")).as("week_start"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(union, Seq("week_start")).join(direct, Seq("week_start"))
      .select(col("week_start"), col("n_exact"),
        when(abs(col("est_union") - col("n_exact")).cast("double")
          > lit(0.085) * col("n_exact").cast("double"), 1L).otherwise(0L)
          .as("envelope_violations"),
        when(abs(col("est_union") - col("est_direct")).cast("double")
          > lit(0.02) * col("n_exact").cast("double"), 1L).otherwise(0L)
          .as("merge_violations"))
      .orderBy(col("week_start"))
  }

  val hllRollupAuditSql: String =
    """WITH e AS (
      |  SELECT DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
      |    AS week_start, user_id
      |  FROM events)
      |SELECT week_start, CAST(COUNT(*) AS BIGINT) AS n_exact,
      |  CAST(0 AS BIGINT) AS envelope_violations,
      |  CAST(0 AS BIGINT) AS merge_violations
      |FROM e GROUP BY week_start ORDER BY week_start""".stripMargin

  /** Heavy-hitter rollup, the frequent-items twin of [[hllRollup]]:
    * ONE pass builds a per-day ApproxTopK (frequent-items) sketch of
    * active users (`approx_top_k_accumulate`), and any wider window is
    * answered by COMBINING the daily sketches — precompute-once /
    * roll-up-anywhere, so "top users over any date range of a 100 TB
    * log" reaggregates day-grain state instead of re-scanning events.
    * Output: per week (year-aware Monday start, as in [[hllRollup]])
    * the top-k users by estimated event count.
    *
    * maxItemsTracked is sized (4096) far above the test cardinality so
    * estimates are exact there — the spec pins est == exact count and
    * the top-k cut against an exact recount; at real scale the same
    * plan degrades gracefully to the sketch's ±εN guarantee.
    *
    * No DuckDB oracle (sketch internals are engine-specific, same
    * adjudication as the HLL rollup) — AnalyticsOpsSpec covers it.
    */
  def topkRollup(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val daily = ev(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(expr("approx_top_k_accumulate(user_id, 4096)").as("sk"))
    daily
      .groupBy(date_trunc("week", col("day")).cast("date").as("week_start"))
      .agg(expr(s"approx_top_k_estimate(approx_top_k_combine(sk, 4096), $k)")
        .as("top"))
      .select(col("week_start"), posexplode(col("top")))
      .select(col("week_start"), (col("pos") + 1).cast("long").as("rk"),
        col("col.item").as("user_id"), col("col.count").as("est_events"))
      .orderBy(col("week_start"), col("rk"))
  }

  /** Audience-overlap estimation from SKETCHES ALONE — the
    * inclusion–exclusion leg of the HLL family: for every pair of
    * event types, estimate |users_a ∩ users_b| as
    * `est(a) + est(b) − est(a ∪ b)`, where the union estimate comes
    * from merging the two per-type sketches (`hll_union`), never from
    * re-touching events. This is how "how many users did both X and Y"
    * is answered over a 100 TB log: ONE pass builds |types| sketches
    * (4 KiB each), and all O(|types|²) overlap questions are
    * metadata-only algebra over those sketch rows. Set-theoretically
    * HLL supports union natively and intersection only via
    * inclusion–exclusion — the error grows when the overlap is small
    * relative to the union, which is exactly what the spec's
    * exact-recount comparison bounds at test scale.
    *
    * No DuckDB oracle: sketch registers are DataSketches-specific
    * (the [[hllRollup]] adjudication); AnalyticsOpsSpec pins every
    * estimate column against an exact recount within the HLL error
    * envelope — at lgK = 12 and test cardinalities the estimates are
    * exact, so the pin is equality, not tolerance.
    */
  def hllIntersect(s: SparkSession, dir: String): DataFrame = {
    val sk = ev(s, dir)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))
          .as("est_union"))
      .withColumn("est_intersect",
        col("est_a") + col("est_b") - col("est_union"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Structural-oracle audit of [[hllIntersect]]: the
    * inclusion–exclusion intersection estimate Â∩B = Â + B̂ − Â∪B has
    * a checkable contract against the RECOMPUTABLE exact intersection
    * — each of the three sketch estimates carries the lgK = 12
    * envelope, so |est_intersect − exact| ≤ 3·8.5%·max(|A|,|B|) is
    * the additive-error bound (I-E amplifies sketch error: the bound
    * rides the UNION sizes, not the possibly-tiny intersection — the
    * known weakness the scaladoc of the estimate API documents). The
    * oracle hash-checks (type_a, type_b, exact per-set and
    * intersection counts) and pins the violation counter to 0; the
    * estimates stay the AnalyticsOpsSpec-bounded [[hllIntersect]]
    * API.
    *
    * Scale: exact legs are (type, user) distinct-combines and one
    * pair-grid semi-join count on the ≤|types|² grid; sketch legs as
    * in the estimate API.
    */
  def hllIntersectAudit(s: SparkSession, dir: String): DataFrame = {
    val tu = ev(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_set"))
    val inter = tu.select(col("event_type").as("type_a"),
        col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_intersect_exact"))
    val est = hllIntersect(s, dir)
      .select(col("type_a"), col("type_b"), col("est_intersect"))
    // full (type_a < type_b) cross grid, NOT the inner join on shared
    // users: a truly DISJOINT pair has no exact-intersection row, and
    // an inclusion–exclusion estimate that is spuriously large for it
    // would escape an inner-join audit entirely (r16 advice item) —
    // the grid is |types|² metadata, free at any corpus scale
    val grid = sizes.select(col("event_type").as("type_a"),
        col("n_set").as("n_a_exact"))
      .join(sizes.select(col("event_type").as("type_b"),
        col("n_set").as("n_b_exact")), col("type_a") < col("type_b"))
    grid
      .join(inter, Seq("type_a", "type_b"), "left")
      .withColumn("n_intersect_exact",
        coalesce(col("n_intersect_exact"), lit(0L)))
      .join(est, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_a_exact"),
        col("n_b_exact"), col("n_intersect_exact"),
        when(abs(col("est_intersect").cast("double")
          - col("n_intersect_exact").cast("double"))
          > lit(0.255) * greatest(col("n_a_exact"), col("n_b_exact"))
            .cast("double"), 1L).otherwise(0L)
          .as("envelope_violations"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val hllIntersectAuditSql: String =
    """WITH tu AS (
      |  SELECT DISTINCT event_type, user_id FROM events),
      |sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_set
      |       FROM tu GROUP BY event_type),
      |inter AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_intersect_exact
      |  FROM tu a JOIN tu b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2),
      |grid AS (
      |  SELECT sa.event_type AS type_a, sb.event_type AS type_b,
      |    sa.n_set AS n_a_exact, sb.n_set AS n_b_exact
      |  FROM sz sa JOIN sz sb ON sa.event_type < sb.event_type)
      |SELECT type_a, type_b, n_a_exact, n_b_exact,
      |  CAST(COALESCE(n_intersect_exact, 0) AS BIGINT) AS n_intersect_exact,
      |  CAST(0 AS BIGINT) AS envelope_violations
      |FROM grid LEFT JOIN inter USING (type_a, type_b)
      |ORDER BY type_a, type_b""".stripMargin

  /** Structural-oracle audit of [[topkRollup]]: at the configured
    * tracking width (4096 ≫ weekly user cardinality at gate SFs) the
    * frequent-items sketch is in exact mode, and at ANY scale it
    * guarantees (a) reported counts within εN of exact (ε =
    * 4/maxItems per the DataSketches ApproxTopK bound) and (b) no
    * user with exact count strictly above the k-th reported count +
    * εN is missing. The audit recounts each reported user exactly
    * and checks both: `count_violations` (estimate off by > εN) and
    * `coverage_violations` (a missed heavier user exists), both
    * pinned to 0 beside the recomputable per-week event total and
    * distinct-user count.
    *
    * Scale: the sketch leg as in the estimate API; the exact leg is
    * one (week, user) fold joined back on the ≤|weeks|·k grid.
    */
  def topkRollupAudit(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = ev(s, dir)
      .select(date_trunc("week", to_date(col("ts"))).cast("date")
        .as("week_start"), col("user_id"))
    val exact = e.groupBy(col("week_start"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    val weekTot = e.groupBy(col("week_start"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
    val top = topkRollup(s, dir, k)
    val eps = weekTot.select(col("week_start"),
      (col("n_events").cast("double") * lit(4.0 / 4096.0)).as("eps_n"))
    val perRow = top.join(exact, Seq("week_start", "user_id"), "left")
      .join(broadcast(eps), "week_start")
      .select(col("week_start"),
        when(abs(col("est_events").cast("double")
          - coalesce(col("n_exact"), lit(0L)).cast("double"))
          > col("eps_n"), 1L).otherwise(0L).as("cv"),
        least(col("est_events"), coalesce(col("n_exact"), lit(0L)))
          .as("floor_k"))
    val kthFloor = perRow.groupBy(col("week_start"))
      .agg(sum(col("cv")).as("count_violations"),
        min(col("floor_k")).as("kth_floor"))
    val missed = exact.join(broadcast(kthFloor), "week_start")
      .join(broadcast(eps), "week_start")
      .join(top.select(col("week_start"), col("user_id"),
        lit(1L).as("reported")), Seq("week_start", "user_id"), "left")
      .filter(col("reported").isNull
        && col("n_exact").cast("double")
          > col("kth_floor").cast("double") + col("eps_n"))
      .groupBy(col("week_start"))
      .agg(count(lit(1)).as("coverage_violations"))
    weekTot.join(kthFloor, Seq("week_start"))
      .join(missed, Seq("week_start"), "left")
      .select(col("week_start"), col("n_events"), col("n_users"),
        col("count_violations"),
        coalesce(col("coverage_violations"), lit(0L))
          .as("coverage_violations"))
      .orderBy(col("week_start"))
  }

  val topkRollupAuditSql: String =
    """SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
      |    AS week_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(0 AS BIGINT) AS count_violations,
      |  CAST(0 AS BIGINT) AS coverage_violations
      |FROM events GROUP BY 1 ORDER BY week_start""".stripMargin

  /** Aggregation over a JSON payload column: `props` carries
    * `{"k": <int>}` per event; the path extract + cast + sum runs
    * without ever materializing a parsed struct. `get_json_object` is
    * codegen'd and the extract happens map-side, so the shuffle carries
    * only (event_type, partial sums) — the JSON never crosses the wire.
    * try_cast keeps a malformed payload row from failing the job under
    * ANSI mode (it degrades to NULL, which SUM skips).
    */
  def jsonProps(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS LONG)").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  val jsonPropsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- SCD2 dimension history ------------------------------------------------
  /** Slowly-changing-dimension (type 2) build: the per-user change log
    * becomes interval-versioned records — each event is valid from its
    * own timestamp until the user's next event (`lead`), the last one
    * open-ended (`is_current`). This is the history table a MERGE-based
    * lakehouse upsert maintains incrementally, derived here in one
    * stateless pass: a single hash exchange on user_id + in-partition
    * sort, no join. Versioning is bounded per user, so skew follows the
    * per-user event count, not the table size.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    ev(s, dir)
      .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
        col("event_type"), col("value"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  val scd2HistorySql: String =
    """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS valid_from,
      |                  event_type, value FROM events)
      |SELECT user_id, event_id, valid_from, event_type, value,
      | lead(valid_from) OVER w AS valid_to,
      | lead(valid_from) OVER w IS NULL AS is_current
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  // --- cohort retention ------------------------------------------------------
  /** Weekly cohort retention: users grouped by their first active week,
    * counted in each later week they return. Both engines truncate
    * weeks to Monday, so cohort keys agree; the week offset is an exact
    * multiple of 7 days by construction.
    *
    * Scale shape: the per-user cohort week (one groupBy on user_id) and
    * the distinct (user, week) activity frame share user_id
    * partitioning, so the join between them is co-partitioned — no
    * extra exchange — and the final (cohort, offset) aggregate is
    * tiny-keyed. Nothing in the plan holds per-user event lists.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
    val active = e.distinct()
    active.join(cohort, Seq("user_id"))
      .groupBy(
        col("cwk").cast("timestamp").as("cohort_week"),
        expr("CAST(datediff(wk, cwk) / 7 AS LONG)").as("offset_weeks"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("offset_weeks"))
  }

  val retentionCohortsSql: String =
    """WITH e AS (SELECT user_id,
      |    date_trunc('week', CAST(ts AS DATE)) AS wk FROM events),
      |cohort AS (SELECT user_id, MIN(wk) AS cwk FROM e GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id, wk FROM e)
      |SELECT CAST(c.cwk AS TIMESTAMP) AS cohort_week,
      | CAST(date_diff('day', c.cwk, a.wk) / 7 AS BIGINT) AS offset_weeks,
      | COUNT(DISTINCT a.user_id) AS n_users
      |FROM cohort c JOIN active a USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- typed Aggregator group statistics ----------------------------------
  /** Per-type count/mean/population-variance via the typed
    * [[graft.functions.ValueStatsAgg]] `Aggregator` (case-class buffer,
    * `functions.udaf` registration) — the Dataset-encoder aggregation
    * API leg. The aggregate itself moves only exact integer sums;
    * mean and variance are derived HERE from those sums with the same
    * double formula the oracle uses, so parity is structural.
    */
  def typedGroupStats(s: SparkSession, dir: String): DataFrame = {
    val stats = udaf(graft.functions.ValueStatsAgg)
    ev(s, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(stats(col("cents")).as("st"))
      .select(col("event_type"),
        col("st.n").as("n"),
        (col("st.sum").cast("double") /
          (col("st.n").cast("double") * 100.0)).as("mean"),
        // E[x^2]-mean^2 can go fractionally negative on a constant-valued
        // group (FP cancellation); clamp at 0 in BOTH spellings so parity
        // survives the clamp.
        greatest(
          (col("st.sumSq").cast("double") /
            (col("st.n").cast("double") * 10000.0)) -
            (col("st.sum").cast("double") / (col("st.n").cast("double") * 100.0))
              * (col("st.sum").cast("double") / (col("st.n").cast("double") * 100.0)),
          lit(0.0)).as("variance"))
      .orderBy(col("event_type"))
  }

  val typedGroupStatsSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |g AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s,
      |    CAST(SUM(cents * cents) AS BIGINT) AS sq
      |  FROM c GROUP BY event_type)
      |SELECT event_type, n,
      |  CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS mean,
      |  GREATEST(
      |    CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)
      |      - (CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0))
      |        * (CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)), 0.0) AS variance
      |FROM g ORDER BY event_type""".stripMargin

  // --- gaps-and-islands: longest activity streak --------------------------
  /** Longest run of CONSECUTIVE active days per user — the
    * gaps-and-islands pattern: subtracting each distinct activity
    * date's per-user row number from the date itself yields a value
    * that is constant exactly within a consecutive run, so one
    * groupBy on that anchor recovers the islands without any
    * self-join. Two window passes + two aggregations, all partitioned
    * by user_id (one exchange end-to-end); date arithmetic is integer
    * days, so parity is exact. Ties (equal-length streaks) resolve to
    * the earliest.
    */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val days = ev(s, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .distinct()
    val wRn = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val islands = days
      .select(col("user_id"), col("d"),
        date_sub(col("d"), row_number().over(wRn)).as("anchor"))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).cast("long").as("streak_days"),
        min(col("d")).as("s"), max(col("d")).as("e"))
    val wBest = Window.partitionBy(col("user_id"))
      .orderBy(col("streak_days").desc, col("s"))
    islands
      .select(col("user_id"), col("streak_days"),
        col("s").cast("timestamp").as("streak_start"),
        col("e").cast("timestamp").as("streak_end"),
        row_number().over(wBest).as("rk"))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("streak_days"),
        col("streak_start"), col("streak_end"))
      .orderBy(col("user_id"))
  }

  val activityStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |isl AS (
      |  SELECT user_id,
      |    d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
      |             AS INTEGER) AS anchor,
      |    d
      |  FROM days),
      |runs AS (
      |  SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS streak_days,
      |    MIN(d) AS s, MAX(d) AS e
      |  FROM isl GROUP BY user_id, anchor),
      |best AS (
      |  SELECT user_id, streak_days,
      |    CAST(s AS TIMESTAMP) AS streak_start,
      |    CAST(e AS TIMESTAMP) AS streak_end,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY streak_days DESC, s) AS rk
      |  FROM runs)
      |SELECT user_id, streak_days, streak_start, streak_end
      |FROM best WHERE rk = 1 ORDER BY user_id""".stripMargin

  // --- value-range (RANGE) window frames ---------------------------------
  /** Trailing-hour activity per event via a RANGE frame — the window
    * semantics none of the ROWS-frame queries exercise: the frame is
    * bounded by the ORDER-BY VALUE (all events within 3600 s before
    * this one), not by a row count, so same-timestamp rows are all
    * in-frame together and the result is order-tie-proof by
    * construction (no event_id tie-break needed — count and sum over
    * an equal-ts set are permutation-invariant). Same single user_id
    * exchange as every per-entity window here.
    */
  def rangeLastHour(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000, Window.currentRow)
    ev(s, dir)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_last_hour"),
        dsum(col("value")).over(w).as("value_last_hour"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val rangeLastHourSql: String =
    """SELECT user_id, event_id,
      |  COUNT(*) OVER w AS n_last_hour,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
      |    AS value_last_hour
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // --- time-weighted average --------------------------------------------
  /** Per-user TIME-weighted mean value — each reading weighted by how
    * long it was current (the step-function integral / total duration),
    * the correct average for irregularly-sampled series where the plain
    * row mean over-counts bursts (IoT sensors, account balances,
    * position marks). Single-reading users have no holding interval and
    * are excluded.
    *
    * Shape: lead() over one user_id exchange for the interval lengths,
    * then a per-user aggregation. Determinism: the weighted sums run in
    * INTEGER arithmetic — value is cents-exact (round(value·100)) and
    * intervals are integer μs, so Σ(cents·μs) and Σμs are exact longs
    * (worst case ~1.5e17, inside long range) and only the final IEEE
    * division touches floating point. Casting COMPUTED doubles (like
    * value·dt) to DECIMAL is not portable — Spark rounds the double's
    * shortest decimal representation, DuckDB its exact binary
    * expansion, and the two disagree ~1e-11-relative often enough to
    * break hash parity (observed; this query is why the discipline is
    * "decimal-cast raw columns, never derived doubles").
    */
  def timeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dtUs = unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))
    ev(s, dir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        dtUs.as("dt_us"))
      .filter(col("dt_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        (sum(col("cents") * col("dt_us")).cast("double") /
          (sum(col("dt_us")).cast("double") * 100.0)).as("tw_avg"),
        count(lit(1)).as("n_intervals"))
      .orderBy(col("user_id"))
  }

  val timeWeightedAvgSql: String =
    """WITH iv AS (
      |  SELECT user_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    epoch_us(LEAD(ts) OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id))
      |      - epoch_us(ts) AS dt_us
      |  FROM events)
      |SELECT user_id,
      |  CAST(CAST(SUM(cents * dt_us) AS BIGINT) AS DOUBLE)
      |    / (CAST(CAST(SUM(dt_us) AS BIGINT) AS DOUBLE) * 100.0) AS tw_avg,
      |  COUNT(*) AS n_intervals
      |FROM iv WHERE dt_us IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- event-type transition matrix -------------------------------------
  /** First-order Markov transition matrix over per-user event sequences:
    * for each (from_type, to_type) adjacent pair (ordered by ts,
    * event_id within user), the transition count and the row-normalized
    * probability — the behavioral-modeling summary (and the input to
    * next-event prediction baselines).
    *
    * Shape: one user_id exchange for the lead() pairing, then a
    * 25-row-bounded aggregation (|types|²); probabilities divide two
    * integer counts (IEEE-exact cross-engine). The per-from_type total
    * rides in a window over the TINY aggregated matrix, not the events.
    */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wf = Window.partitionBy(col("from_type"))
    ev(s, dir)
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / sum(col("n")).over(wf).cast("double"))
          .as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Entropy RATE of the per-user event-type Markov chain — the
    * one-number sequel to [[markovTransitions]]: H(next | current) =
    * H(pair) − H(current) over the empirical transition table (Shannon
    * 1948 §7; the entropy rate of the maximum-likelihood first-order
    * chain). Low conditional entropy = predictable journeys (funnels),
    * H(cond) ≈ H(marginal) = the next step is independent of the
    * current one. `predictability` = 1 − H(cond)/H(marginal) ∈ [0,1],
    * NULL-guarded when the marginal entropy is 0 (single event type).
    *
    * Micronat-exact ([[mutualInfo]]'s identity, conditioned instead of
    * crossed): H(cond)·N·1e6 = Σ_s c_s·lnµ(c_s) − Σ_st c_st·lnµ(c_st)
    * — exact BIGINTs; the doubles are single IEEE divisions.
    *
    * Scale shape: the lead() window partitions by USER (high
    * cardinality, the legitimate class); ONE aggregation to the
    * |types|² transition grid; everything above is grid-sized.
    */
  def markovEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val lnMicro = (c: Column) =>
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val grid = graft.Graft.materialize(ev(s, dir)
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c")))
    val marg = grid.groupBy(col("from_type")).agg(sum(col("c")).as("cs"))
    val pair = grid.agg(sum(col("c")).as("n"),
      count(lit(1)).as("n_cells"),
      sum(col("c") * lnMicro(col("c"))).as("spair"))
    val mg = marg.agg(count(lit(1)).as("n_states"),
      sum(col("cs") * lnMicro(col("cs"))).as("smarg"))
    val nd = col("n").cast("double")
    // H(cond)·N·1e6 and H(marginal current)·N·1e6 as exact BIGINTs
    val hCond = col("smarg") - col("spair")
    val hMarg = col("n") * lnMicro(col("n")) - col("smarg")
    pair.crossJoin(broadcast(mg))
      .select(col("n").as("n_transitions"), col("n_states"),
        col("n_cells").as("n_observed_pairs"),
        (hCond.cast("double") / (nd * lit(1e6))).as("h_cond_nats"),
        (hMarg.cast("double") / (nd * lit(1e6))).as("h_marginal_nats"),
        when(hMarg === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) - hCond.cast("double") / hMarg.cast("double"))
          .as("predictability"))
  }

  val markovEntropyRateSql: String = {
    def lnu(v: String): String =
      s"CAST(round(ln(CAST($v AS DOUBLE)) * 1e6) AS BIGINT)"
    s"""WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |g AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |marg AS (SELECT from_type, CAST(SUM(c) AS BIGINT) AS cs
      |         FROM g GROUP BY from_type),
      |p AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
      |        CAST(COUNT(*) AS BIGINT) AS n_cells,
      |        CAST(SUM(c * ${lnu("c")}) AS BIGINT) AS spair
      |      FROM g),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_states,
      |        CAST(SUM(cs * ${lnu("cs")}) AS BIGINT) AS smarg
      |      FROM marg)
      |SELECT n AS n_transitions, n_states, n_cells AS n_observed_pairs,
      |  CAST(smarg - spair AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
      |    AS h_cond_nats,
      |  CAST(n * ${lnu("n")} - smarg AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
      |    AS h_marginal_nats,
      |  CASE WHEN n * ${lnu("n")} - smarg = 0 THEN NULL
      |       ELSE 1.0 - CAST(smarg - spair AS DOUBLE)
      |         / CAST(n * ${lnu("n")} - smarg AS DOUBLE) END
      |    AS predictability
      |FROM p CROSS JOIN m""".stripMargin
  }

  val markovTransitionsSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |m AS (SELECT from_type, to_type, COUNT(*) AS n FROM pairs
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type)
      |                           AS DOUBLE) AS p
      |FROM m ORDER BY from_type, to_type""".stripMargin

  // --- sketch-based approximate quantiles --------------------------------
  /** Approximate per-type value quantiles via Spark's mergeable
    * percentile sketch (`approx_percentile`, accuracy 10 000) — the
    * 100 TB dual of [[valueQuantiles]]: exact interpolated percentiles
    * need the full sorted value multiset per group (state grows with
    * data), while the sketch is fixed-size per group and merges
    * associatively across partitions, so the shuffle carries sketches,
    * not values. The sketch's exact outputs are algorithm-specific, so
    * the REGISTERED spelling is [[valueQuantilesApproxAudit]] (rank-
    * guarantee violations, hash-checked); AnalyticsOpsSpec additionally
    * bounds this per-value surface against the exact dual.
    */
  def valueQuantilesApprox(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("p90"),
        percentile_approx(col("value"), lit(0.99), lit(10000)).as("p99"))
      .orderBy(col("event_type"))

  // --- native session windows -------------------------------------------
  /** Per-user sessions via Spark's NATIVE `session_window` operator —
    * the same 30-minute-gap semantics as [[sessionize]] (which spells it
    * with lag+cumsum), but expressed as the engine's first-class dynamic
    * window, the form that also runs unchanged as a Structured Streaming
    * aggregation with watermarked state expiry. Session end is
    * last-event + gap and windows are [start, end): a gap of EXACTLY
    * 30 minutes starts a new session, which is why the oracle's
    * lag-cumsum break condition is `>=`, not `>`.
    *
    * Same scale shape as every per-entity op here: one hash exchange on
    * user_id, sessions assembled in-partition.
    */
  def sessionWindowNative(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
      .select(col("user_id"),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("session_start"))

  val sessionWindowNativeSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN epoch_us(ts::TIMESTAMP)
      |           - LAG(epoch_us(ts::TIMESTAMP)) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |se AS (
      |  SELECT user_id, ts, value,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g)
      |SELECT user_id,
      | MIN(ts)::TIMESTAMP AS session_start,
      | MAX(ts)::TIMESTAMP + INTERVAL 30 MINUTE AS session_end,
      | COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
      |FROM se GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  // --- rolling z-score anomaly detection --------------------------------
  /** Per-user online anomaly flags: each event's `value` is scored
    * against the mean/stddev of that user's 20 PRECEDING events
    * (strictly past — the frame excludes the current row, so the score
    * is what a streaming detector would have computed at arrival time).
    * Events with at least 8 history rows and |z| > 2.5 are emitted.
    *
    * Shuffle shape: ONE hash exchange on user_id + in-partition sort —
    * identical to sessionize/movingAvg, the canonical per-entity
    * time-series shape that scales linearly with user count. Determinism:
    * the frame sums run on exact integer CENTS (value is 2-dp;
    * Σcents ≤ 20·56 021 and Σcents² ≤ 20·3.1e9 both fit a long), so
    * mean/variance/sqrt/divide are IEEE ops on bit-identical inputs —
    * hash-exact vs the oracle. (Summing dec(value·value) would decimal-
    * cast a DERIVED double, the non-portable rounding documented at
    * [[timeWeightedAvg]].)
    */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    val cents = round(col("value") * 100).cast("long")
    val n = count(lit(1)).over(w)
    val mu = sum(cents).over(w).cast("double") / (n.cast("double") * 100.0)
    val ex2 = sum(cents * cents).over(w).cast("double") /
      (n.cast("double") * 10000.0)
    val sd = sqrt(greatest(ex2 - mu * mu, lit(0.0)))
    ev(s, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        n.as("n_hist"), mu.as("mu"), sd.as("sd"))
      .filter(col("n_hist") >= 8 && col("sd") > 0)
      .select(col("user_id"), col("event_id"), col("value"),
        ((col("value") - col("mu")) / col("sd")).as("zscore"))
      .filter(abs(col("zscore")) > 2.5)
      .orderBy(col("user_id"), col("event_id"))
  }

  val anomalyZscoreSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |scored AS (
      |  SELECT user_id, event_id, value,
      |    COUNT(*) OVER w AS n_hist,
      |    CAST(CAST(SUM(cents) OVER w AS BIGINT) AS DOUBLE)
      |      / (CAST(COUNT(*) OVER w AS DOUBLE) * 100.0) AS mu,
      |    CAST(CAST(SUM(cents * cents) OVER w AS BIGINT) AS DOUBLE)
      |      / (CAST(COUNT(*) OVER w AS DOUBLE) * 10000.0) AS ex2
      |  FROM c
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT user_id, event_id, value,
      |    (value - mu) / sqrt(GREATEST(ex2 - mu * mu, 0.0)) AS zscore
      |  FROM scored
      |  WHERE n_hist >= 8 AND sqrt(GREATEST(ex2 - mu * mu, 0.0)) > 0)
      |SELECT user_id, event_id, value, zscore FROM z
      |WHERE ABS(zscore) > 2.5 ORDER BY user_id, event_id""".stripMargin

  // --- pre-join explosion check ----------------------------------------------
  /** Preflight audit for a planned self-join of events on user_id (the
    * key the proximity/session joins use): per-key row counts on the
    * join key, each key's output contribution (n²), the estimated
    * total output cardinality, and the blowup factor vs the input.
    * This is the check you run BEFORE launching a 100 TB join — a
    * single hot key turns a "join" into a cartesian, and this report
    * names the keys that would do it (they're the ones to salt or cap,
    * see the LSH/CDC/fuzzy-join posting caps elsewhere in this repo).
    *
    * Cost: one scan, one group-count-sized aggregate; the global
    * estimate is a one-row broadcast back onto the top-key report —
    * the audit is metadata-priced, never join-priced.
    */
  def joinExplosionCheck(s: SparkSession, dir: String): DataFrame = {
    val perKey = ev(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("user_id"), col("n_rows"),
        (col("n_rows") * col("n_rows")).as("contribution"))
    val totals = perKey.agg(
      sum(col("contribution")).as("est_total_rows"),
      sum(col("n_rows")).as("n_input"))
    perKey.crossJoin(broadcast(totals))
      .select(col("user_id"), col("n_rows"), col("contribution"),
        col("est_total_rows"),
        (col("est_total_rows").cast("double") / col("n_input").cast("double"))
          .as("explosion_factor"))
      .orderBy(col("contribution").desc, col("user_id"))
      .limit(10)
  }

  val joinExplosionCheckSql: String =
    """WITH k AS (
      |  SELECT user_id, COUNT(*) AS n_rows,
      |    COUNT(*) * COUNT(*) AS contribution
      |  FROM events GROUP BY user_id),
      |t AS (SELECT CAST(SUM(contribution) AS BIGINT) AS est_total_rows,
      |             CAST(SUM(n_rows) AS BIGINT) AS n_input
      |      FROM k)
      |SELECT user_id, n_rows, contribution, est_total_rows,
      | CAST(est_total_rows AS DOUBLE) / CAST(n_input AS DOUBLE)
      |   AS explosion_factor
      |FROM k, t
      |ORDER BY contribution DESC, user_id LIMIT 10""".stripMargin

  // --- AMS sketch join-size estimation ---------------------------------------
  /** Join-size estimation from COUNT-SKETCHES (the planning primitive:
    * "how big would this join be" answered without running it, and
    * without even a per-key frequency table): |A ⋈_k B| =
    * Σ_k f_A(k)·f_B(k) is estimated by the AMS inner product of one
    * 20 KiB signed sketch per side ([[graft.functions.CountSketch]] —
    * Alon–Matias–Szegedy, STOC 1996; the estimator a cost-based
    * optimizer would consult before choosing a join strategy at
    * 100 TB, and the sibling of [[joinExplosionCheck]]'s exact
    * per-key audit).
    *
    * Two joins are audited: the events self-join on user_id (the
    * explosion case) and orders ⋈ lineitem on orderkey (the FK case).
    * Each side is sketched in ONE pass with constant
    * (D·W counters) state merged map-side; the EXACT Σ f_A·f_B rides
    * along from the per-key count tables so the report itself shows
    * the estimator's error — at scale the exact leg is the one you
    * drop, and the spec pins |rel_err| within the sketch's variance
    * envelope.
    */
  def joinSizeEstimate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{CountSketchAgg, CsJoinSize}
    def leg(name: String, a: DataFrame, ak: String,
            b: DataFrame, bk: String): DataFrame = {
      val skA = a.agg(CountSketchAgg(xxhash64(col(ak))).as("sk_a"))
      val skB = b.agg(CountSketchAgg(xxhash64(col(bk))).as("sk_b"))
      val ca = a.groupBy(col(ak).as("k_a")).agg(count(lit(1)).as("ca"))
      val cb = b.groupBy(col(bk).as("k_b")).agg(count(lit(1)).as("cb"))
      val exact = ca.join(cb, col("k_a") === col("k_b"))
        .agg(sum(col("ca") * col("cb")).as("exact_rows"))
      skA.crossJoin(skB).crossJoin(exact)
        .select(lit(name).as("join_name"), col("exact_rows"),
          CsJoinSize(col("sk_a"), col("sk_b")).as("est_rows"))
        .withColumn("rel_err",
          (col("est_rows") - col("exact_rows")).cast("double")
            / col("exact_rows").cast("double"))
    }
    val e = ev(s, dir)
    val orders = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem")
    leg("events_self_user", e, "user_id", e, "user_id")
      .unionByName(
        leg("orders_lineitem", orders, "o_orderkey", li, "l_orderkey"))
      .orderBy(col("join_name"))
  }

  /** [[joinSizeEstimate]]'s STRUCTURAL ORACLE (registered as
    * `join_size_estimate`): the exact join sizes — DuckDB-computable —
    * beside the contract claim the sketch must honor: the AMS estimate
    * within 25% of truth (`est_in_envelope`). The 25% band is ~6
    * standard errors of the W=512, median-of-D=5 estimator on these
    * joins (per-row rel. std ≈ √(F2_A·F2_B)/(√W·J) ≈ 4.4% for the
    * self-join, where F2 = J), so the boolean is deterministically
    * TRUE on any driver-regenerated fixture while a broken sign hash
    * (estimate ~0 or ~N_A·N_B/W) flips it and hash-fails the gate.
    * The numeric estimate and rel_err stay visible through
    * [[joinSizeEstimate]] and SketchSpec's envelope pin — nothing
    * weakened, the no-FN-style contract just became driver-checked
    * (same graduation as `decontaminate_bloom`'s audit).
    */
  def joinSizeEstimateAudit(s: SparkSession, dir: String): DataFrame =
    joinSizeEstimate(s, dir)
      .select(col("join_name"), col("exact_rows"),
        (abs(col("rel_err")) <= 0.25).as("est_in_envelope"))
      .orderBy(col("join_name"))

  val joinSizeEstimateAuditSql: String =
    """WITH sa AS (
      |  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY user_id),
      |sj AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_rows FROM sa),
      |fk AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      |SELECT 'events_self_user' AS join_name, exact_rows,
      |       TRUE AS est_in_envelope FROM sj
      |UNION ALL
      |SELECT 'orders_lineitem' AS join_name, exact_rows,
      |       TRUE AS est_in_envelope FROM fk
      |ORDER BY join_name""".stripMargin

  // --- ordered funnel, single-pass window spelling ---------------------------
  /** The ONE-EXCHANGE twin of [[funnel]] (same operator family as the
    * broadcast/partitioned triangle pair): [[funnel]] spells the
    * ordered funnel as three filtered fact scans chained by equi-joins
    * — simple, but it reads the events table three times. This
    * spelling reads it ONCE: a running min of signup time carries
    * forward along each user's timeline, a click row that sees a
    * carried signup becomes a qualified click whose presence carries
    * forward in turn, and a purchase that sees a qualified click
    * converts (at-or-before semantics with (ts, event_id) tie order;
    * [[funnel]] uses strictly-after, so the two reports are
    * intentionally distinct stage chains, each with its own oracle).
    * The chained carries share partitioning and order, so they stack
    * as Window operators over a single exchange — PlanAuditSpec pins
    * one scan, zero joins. At 100 TB, one fact pass vs three is the
    * whole cost model.
    *
    * Output: one row per funnel stage with the user count that reached
    * it (stage counts are monotonically non-increasing by
    * construction).
    */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ts0 = unix_micros(col("ts"))
    val enriched = ev(s, dir)
      .withColumn("signup_at",
        min(when(col("event_type") === "signup", ts0)).over(w))
      .withColumn("click_at",
        min(when(col("event_type") === "click" && col("signup_at").isNotNull,
          ts0)).over(w))
      .withColumn("converted",
        col("event_type") === "purchase" && col("click_at").isNotNull)
    val perUser = enriched.groupBy(col("user_id"))
      .agg(
        max(col("signup_at").isNotNull).as("s1"),
        max(col("click_at").isNotNull).as("s2"),
        max(col("converted")).as("s3"))
    perUser.agg(
        sum(when(col("s1"), 1L).otherwise(0L)).as("signed_up"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("clicked_after"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("purchased_after"))
      .select(
        expr("stack(3, '1_signup', signed_up, '2_click_after_signup', " +
          "clicked_after, '3_purchase_after_click', purchased_after) " +
          "AS (stage, n_users)"))
      .orderBy(col("stage"))
  }

  val funnelStagesSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts::TIMESTAMP) END)
      |      OVER w AS signup_at
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS UNBOUNDED PRECEDING)),
      |e2 AS (
      |  SELECT user_id, event_type, signup_at,
      |    MIN(CASE WHEN event_type = 'click' AND signup_at IS NOT NULL
      |        THEN 1 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) AS click_at
      |  FROM e),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN signup_at IS NOT NULL THEN 1 ELSE 0 END) AS s1,
      |    MAX(CASE WHEN click_at IS NOT NULL THEN 1 ELSE 0 END) AS s2,
      |    MAX(CASE WHEN event_type = 'purchase' AND click_at IS NOT NULL
      |        THEN 1 ELSE 0 END) AS s3
      |  FROM e2 GROUP BY user_id),
      |t AS (SELECT CAST(SUM(s1) AS BIGINT) AS signed_up,
      |             CAST(SUM(s2) AS BIGINT) AS clicked_after,
      |             CAST(SUM(s3) AS BIGINT) AS purchased_after
      |      FROM u)
      |SELECT stage, n_users FROM (
      |  SELECT '1_signup' AS stage, signed_up AS n_users FROM t
      |  UNION ALL
      |  SELECT '2_click_after_signup', clicked_after FROM t
      |  UNION ALL
      |  SELECT '3_purchase_after_click', purchased_after FROM t)
      |ORDER BY stage""".stripMargin

  // --- mergeable quantile rollup (deterministic histogram sketch) -----------
  /** Percentiles over any date range WITHOUT re-touching events — the
    * quantile member of the mergeable-sketch family ([[hllRollup]] =
    * distinct counts, [[topkRollup]] = heavy hitters): one pass bins
    * each day's values into a fixed 128-bin equi-width histogram (the
    * stored per-day "sketch", ≤128 longs per day), and ANY wider window
    * merges by adding bin counts — histogram merge is exact and
    * associative, so weekly p50/p95/p99 come from daily state, never
    * from a re-scan. The estimate is the upper edge of the first bin
    * whose cumulative count clears ceil(p·n/100): a one-sided bound
    * within one bin width (4.0) of the true quantile — a DETERMINISTIC
    * contract, unlike randomized KLL/t-digest compaction, which is why
    * both engines can hash-match it (the whole computation is integer
    * counts + exact fp bin edges).
    *
    * The cumulative pass windows over bins WITHIN a week (≤128 rows
    * per partition) — never over raw events.
    */
  def quantileRollup(s: SparkSession, dir: String): DataFrame = {
    val w = 4.0
    val lastBin = 127L
    val daily = ev(s, dir)
      .select(date_trunc("day", col("ts")).as("day"),
        least(floor(col("value") / lit(w)).cast("long"), lit(lastBin)).as("bin"))
      .groupBy(col("day"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val weekly = daily
      .groupBy(date_trunc("week", col("day")).cast("date").as("week"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
    val wCum = Window.partitionBy(col("week")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = weekly
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("week"))))
    def qEst(p: Int) =
      min(when(col("cum") * 100L >= col("total") * p,
        (col("bin") + 1L) * lit(w))).as(s"p${p}_est")
    cum.groupBy(col("week"))
      .agg(max(col("total")).as("n_events"), qEst(50), qEst(95), qEst(99))
      .orderBy(col("week"))
  }

  val quantileRollupSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day,
      |    LEAST(CAST(FLOOR(value / 4.0) AS BIGINT), 127) AS bin,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |weekly AS (
      |  SELECT CAST(date_trunc('week', day) AS DATE) AS week, bin,
      |    CAST(SUM(cnt) AS BIGINT) AS cnt
      |  FROM daily GROUP BY 1, 2),
      |c AS (
      |  SELECT week, bin, cnt,
      |    CAST(SUM(cnt) OVER (PARTITION BY week ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(SUM(cnt) OVER (PARTITION BY week) AS BIGINT) AS total
      |  FROM weekly)
      |SELECT week, MAX(total) AS n_events,
      | MIN(CASE WHEN cum * 100 >= total * 50
      |     THEN CAST((bin + 1) * 4.0 AS DOUBLE) END) AS p50_est,
      | MIN(CASE WHEN cum * 100 >= total * 95
      |     THEN CAST((bin + 1) * 4.0 AS DOUBLE) END) AS p95_est,
      | MIN(CASE WHEN cum * 100 >= total * 99
      |     THEN CAST((bin + 1) * 4.0 AS DOUBLE) END) AS p99_est
      |FROM c GROUP BY week ORDER BY week""".stripMargin

  // --- last-touch attribution ----------------------------------------------
  /** Last-touch revenue attribution: each purchase's value is credited
    * to the channel (event_type) of the same user's most recent
    * NON-purchase touch at-or-before it; purchases with no prior touch
    * land in the 'none' bucket. The rollup per channel — purchases
    * credited, revenue attributed — is the marketing-attribution dual
    * of [[asofOver]]'s backward as-of: same one-exchange window (the
    * carry-forward `last(..., ignoreNulls)` over a (user, time) order),
    * zero self-joins. At equal timestamps the touch sorts BEFORE the
    * purchase so the inclusive frame sees it — the same tie contract,
    * mirrored, as the as-of pair.
    */
  def attributionLastTouch(s: SparkSession, dir: String): DataFrame = {
    val isPurchase = col("event_type") === "purchase"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), when(isPurchase, 1).otherwise(0), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("channel",
        last(when(!isPurchase, col("event_type")), ignoreNulls = true).over(w))
      .filter(isPurchase)
      .select(coalesce(col("channel"), lit("none")).as("channel"), col("value"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        dsum(col("value")).as("attributed_revenue"))
      .orderBy(col("channel"))
  }

  val attributionLastTouchSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, ts, value,
      |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
      |               IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts,
      |              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END,
      |              event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS channel
      |  FROM events)
      |SELECT COALESCE(channel, 'none') AS channel,
      | COUNT(*) AS n_purchases,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_revenue
      |FROM o WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY channel""".stripMargin

  // --- inter-arrival gap percentiles -------------------------------------------
  /** Exact p50/p90 of inter-event gaps per event type — the burstiness
    * profile (is traffic Poisson-ish or clumped?) a capacity planner
    * reads before sizing stream partitions. Gaps are exact epoch-micro
    * differences via `lag` with event_id as the equal-timestamp
    * tiebreak; percentiles are the discrete order statistic at
    * ceil(q·n) (percentile_disc), selected BY POSITION with
    * row_number — rows tied on gap are interchangeable at a position
    * boundary, so no within-tie order can change the selected value.
    * ceil rides the portable integer identity (q·n + denom−1) div
    * denom. Mean gap is the one IEEE division of exact sums.
    *
    * Shape: one hash exchange on event_type keys both the lag window
    * and the rank window (same partitioning reused), then a per-type
    * aggregate — nothing global, no fact-table sort spine.
    */
  def interArrival(s: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val gaps = ev(s, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(wSeq))
      .filter(col("gap").isNotNull)
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("gap"))
    val wAll = Window.partitionBy(col("event_type"))
    gaps
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_gaps"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("gap")))
          .as("p50_gap_us"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("gap")))
          .as("p90_gap_us"),
        (sum(col("gap")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_gap_us"))
      .orderBy(col("event_type"))
  }

  val interArrivalSql: String = {
    val p50 = PortableSql.intDiv("n + 1", "2")
    val p90 = PortableSql.intDiv("9 * n + 9", "10")
    s"""WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
      |g AS (
      |  SELECT event_type,
      |    us - lag(us) OVER (PARTITION BY event_type
      |                       ORDER BY us, event_id) AS gap
      |  FROM e),
      |gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
      |rk AS (
      |  SELECT event_type, gap,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY gap)
      |         AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM gg)
      |SELECT event_type, MAX(n) AS n_gaps,
      |  MAX(CASE WHEN rn = $p50 THEN gap END) AS p50_gap_us,
      |  MAX(CASE WHEN rn = $p90 THEN gap END) AS p90_gap_us,
      |  CAST(CAST(SUM(gap) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS mean_gap_us
      |FROM rk GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // --- time-constrained funnel ------------------------------------------------
  /** Funnel with per-step deadlines: first signup → first click within
    * 7 days OF THAT SIGNUP → first purchase within 7 days OF THAT
    * CLICK. The unconstrained funnels (events_funnel, funnel_stages)
    * only ask "ever, in order"; product analytics almost always asks
    * "in order, in time", and the deadline chaining (each stage's
    * window anchors on the PREVIOUS stage's achieved timestamp) is
    * what makes this a different operator, not a filter.
    *
    * Shape: three type-filtered scans (each filter pushed to parquet),
    * each reduced per-user with a conditional `min` and joined on
    * user_id — the per-user stage frames share the user_id hash
    * partitioning, so stages 2 and 3 reuse the stage-1 exchange
    * layout. All timestamps ride as exact epoch micros; the output is
    * one row of stage counts + two conversion ratios (IEEE divisions
    * of exact counts).
    */
  def funnelWithin(s: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val horizon = days * 86400000000L // exact micros
    val e = ev(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val signup = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val click = e.filter(col("event_type") === "click")
      .join(signup, "user_id")
      .filter(col("us") >= col("t1") && col("us") <= col("t1") + horizon)
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val purchase = e.filter(col("event_type") === "purchase")
      .join(click, "user_id")
      .filter(col("us") >= col("t2") && col("us") <= col("t2") + horizon)
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    val n1 = signup.agg(count(lit(1)).as("n_signup"))
    val n2 = click.agg(count(lit(1)).as("n_click_within"))
    val n3 = purchase.agg(count(lit(1)).as("n_purchase_within"))
    n1.crossJoin(n2).crossJoin(n3)
      .select(col("n_signup"), col("n_click_within"),
        col("n_purchase_within"),
        (col("n_click_within").cast("double")
          / col("n_signup").cast("double")).as("click_rate"),
        (col("n_purchase_within").cast("double")
          / col("n_click_within").cast("double")).as("purchase_rate"))
  }

  val funnelWithinSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(us) AS t2
      |       FROM e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE event_type = 'click'
      |         AND us >= t1 AND us <= t1 + 604800000000
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(us) AS t3
      |       FROM e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE event_type = 'purchase'
      |         AND us >= t2 AND us <= t2 + 604800000000
      |       GROUP BY e.user_id),
      |n AS (SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_signup,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click_within,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase_within)
      |SELECT n_signup, n_click_within, n_purchase_within,
      |  CAST(n_click_within AS DOUBLE) / CAST(n_signup AS DOUBLE)
      |    AS click_rate,
      |  CAST(n_purchase_within AS DOUBLE) / CAST(n_click_within AS DOUBLE)
      |    AS purchase_rate
      |FROM n""".stripMargin

  // --- approx-quantile rank-error audit ----------------------------------------
  /** [[valueQuantilesApprox]]'s STRUCTURAL ORACLE (registered as
    * `events_quantile_rank_audit`): Spark's `approx_percentile` is a
    * Greenwald–Khanna sketch (SIGMOD 2001) whose accuracy contract is
    * DETERMINISTIC — the returned value's rank interval must intersect
    * [(p − ε)·n, (p + ε)·n] with ε = 1/accuracy — so the boolean is
    * TRUE on any fixture while a broken merge or accuracy regression
    * flips it and hash-fails the driver gate (the same rows-only →
    * structural-oracle graduation as `sketch_word_freq` /
    * `decontaminate_bloom` / `join_size_estimate`). Per event type and
    * p ∈ {0.5, 0.9}: the exact value count (DuckDB-computable) beside
    * the contract claim.
    *
    * The envelope test is ALL-INTEGER: Spark's sketch targets rank
    * T = ⌈p·n⌉ (QuantileSummaries.query), so with the returned value's
    * ranks spanning [cnt_lt + 1, cnt_le], the contract holds iff that
    * interval intersects [T − (εn + 1), T + (εn + 1)] — spelled
    * cnt_le·acc ≥ T·acc − n − acc and
    * (cnt_lt + 1)·acc ≤ T·acc + n + acc, where
    * T = (p·acc·n + acc − 1) div acc and p·acc is an exact integer
    * literal (5000, 9000). No float threshold anywhere; the +1 slack
    * absorbs the ceil's sub-unit placement, leaving a bound a broken
    * merge (off by O(n)) still cannot meet. The numeric estimates stay visible through
    * [[valueQuantilesApprox]]; SketchSpec pins them against exact
    * percentiles.
    *
    * Shape: one type-sized sketch aggregation (mergeable — the
    * executor-combine pattern), broadcast back onto ONE events pass of
    * conditional counts, then a 2-row-per-type unpivot. The fact table
    * is scanned twice total (sketch + count), never fanned out.
    */
  def quantileRankAudit(s: SparkSession, dir: String): DataFrame = {
    val acc = 10000
    val vals = ev(s, dir).select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val sk = vals.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(acc)).as("v50"),
        percentile_approx(col("value"), lit(0.9), lit(acc)).as("v90"))
    val counted = vals.join(broadcast(sk), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("v50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("v50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("v90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("value") < col("v90"), 1L).otherwise(0L)).as("lt90"))
    def envelope(pacc: Int, le: Column, lt: Column): Column = {
      val accL = lit(acc.toLong)
      val target = expr(s"(${pacc}L * n + ${acc - 1}L) div ${acc}L")
      (le * accL >= (target * accL - col("n")) - accL) &&
        ((lt + 1L) * accL <= (target * accL + col("n")) + accL)
    }
    counted.select(col("event_type"), col("n"),
        envelope(5000, col("le50"), col("lt50")).as("ok50"),
        envelope(9000, col("le90"), col("lt90")).as("ok90"))
      .select(col("event_type"), col("n").as("n_values"), expr(
        "stack(2, 'p50', ok50, 'p90', ok90) AS (quantile, in_envelope)"))
      .select(col("event_type"), col("quantile"), col("n_values"),
        col("in_envelope"))
      .orderBy(col("event_type"), col("quantile"))
  }

  val quantileRankAuditSql: String =
    """WITH n AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_values
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
      |SELECT event_type, quantile, n_values, TRUE AS in_envelope
      |FROM n, (VALUES ('p50'), ('p90')) q(quantile)
      |ORDER BY event_type, quantile""".stripMargin

  // --- Hill tail-index estimator --------------------------------------------------
  /** HILL ESTIMATOR of the event-value upper-tail index over the top
    * k = 200 order statistics (Hill, Ann. Stat. 1975): H = (1/k)·
    * Σᵢ₌₁..k ln(X₍ᵢ₎/X₍ₖ₊₁₎), α̂ = 1/H — the order-statistics dual of
    * [[powerLawAlpha]]'s MLE over user activity: THIS one asks how
    * heavy the monetary tail is, the read behind "can a mean-based
    * budget forecast survive the whales". α̂ ≤ 2 means infinite
    * variance; α̂ ≤ 1 means even the mean diverges.
    *
    * Determinism: values land on exact cents; the top-(k+1) MULTISET
    * is value-unique regardless of which tied rows a limit picks, so
    * no tiebreak is needed; Σ lnµ(xᵢ) − (k+1)·lnµ(x₍ₖ₊₁₎) is an exact
    * BIGINT micronat sum over a k-bounded frame, and H/α̂ are two IEEE
    * ops.
    *
    * Shape: one filter+project pass, then `orderBy().limit(k+1)` —
    * TakeOrderedAndProject, the distributed top-k (never a global rank
    * window) — then a 1-row aggregate of the (k+1)-row frame.
    */
  def hillTailIndex(s: SparkSession, dir: String, k: Int = 200): DataFrame = {
    val lnMicro = (c: Column) =>
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val cents = ev(s, dir)
      .select((round(col("value") * lit(100))).cast("long").as("c"))
      .filter(col("c") > 0L)
    cents.orderBy(col("c").desc).limit(k + 1)
      .agg(count(lit(1)).as("n"), min(col("c")).as("xk1"),
        sum(lnMicro(col("c"))).as("sln"))
      .select((col("n") - 1L).as("k_top"), col("xk1").as("xk1_cents"),
        when(col("n") > 1L,
          (col("sln") - col("n") * lnMicro(col("xk1"))).cast("double")
            / ((col("n") - 1L).cast("double") * lit(1e6))).as("hill_h"))
      .withColumn("alpha_hill",
        when(col("hill_h") > 0.0, lit(1.0) / col("hill_h")))
  }

  def hillTailIndexSql(k: Int = 200): String =
    s"""WITH c AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0),
      |top AS (SELECT c FROM c ORDER BY c DESC LIMIT ${k + 1}),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(c) AS xk1,
      |    CAST(SUM(CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
      |         AS BIGINT) AS sln
      |  FROM top),
      |h AS (
      |  SELECT n - 1 AS k_top, xk1 AS xk1_cents,
      |    CASE WHEN n > 1 THEN
      |      CAST(sln - n * CAST(round(ln(CAST(xk1 AS DOUBLE)) * 1e6) AS BIGINT)
      |           AS DOUBLE)
      |      / (CAST(n - 1 AS DOUBLE) * 1e6) END AS hill_h
      |  FROM g)
      |SELECT k_top, xk1_cents, hill_h,
      |  CASE WHEN hill_h > 0 THEN 1.0 / hill_h END AS alpha_hill
      |FROM h""".stripMargin

  // --- Markov stationary distribution --------------------------------------------
  /** Stationary distribution of the per-user event-type Markov chain —
    * the long-run "where do user journeys spend their time" read that
    * complements [[markovTransitions]] (one step) and
    * [[markovEntropyRate]] (predictability): the power-iteration fixed
    * point v = vP after 30 steps from uniform.
    *
    * Determinism: the transition matrix lands on the integer MICRO grid
    * (t_micro = n·1e6 div rowsum — truncating div on both engines), the
    * iteration state stays integer (v'_j = Σᵢ (vᵢ·t_ij) div 1e6, exact
    * BIGINT), so 30 iterations are bit-identical everywhere; the oracle
    * replays the SAME integer recursion as a recursive CTE. Mass lost
    * to truncation (≤ |states| micro per step) is part of the contract,
    * not noise.
    *
    * Scale shape: the lead() window partitions by USER (high
    * cardinality, the legitimate class) and the grid collapse is one
    * map-side-combined aggregation; the driver-side loop touches ONLY
    * the collected |types|² cell grid (metadata-bounded, the BPE-top-1 /
    * k-means-centroid collect precedent) — 30 iterations over ≤25 cells,
    * never a distributed fixed point over data-sized state.
    */
  def markovStationary(s: SparkSession, dir: String, iters: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val grid = ev(s, dir)
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rsum = grid.groupBy(_._1).map { case (f, cs) => f -> cs.map(_._3).sum }
    val t = grid.map { case (f, to, n) => (f, to, n * 1000000L / rsum(f)) }
    val states = rsum.keys.toSeq.sorted
    var v: Map[String, Long] = states.map(_ -> 1000000L / states.size).toMap
    for (_ <- 1 to iters) {
      val nv = scala.collection.mutable.Map.empty[String, Long]
      for ((f, to, tm) <- t; vf <- v.get(f))
        nv(to) = nv.getOrElse(to, 0L) + vf * tm / 1000000L
      v = nv.toMap
    }
    import s.implicits._
    v.toSeq.sortBy(_._1)
      .map { case (st, m) => (st, m, m.toDouble / 1e6) }
      .toDF("st", "stationary_micro", "stationary")
  }

  /** DuckDB twin of [[markovStationary]] — the same integer power
    * iteration as a recursive CTE, derived from the SAME iteration
    * count. */
  def markovStationarySql(iters: Int = 30): String = {
    val tMicro = PortableSql.intDiv("g.n * 1000000", "r.rsum")
    val v0 = PortableSql.intDiv("1000000", "k.k")
    val step = PortableSql.intDiv("it.v * t.t_micro", "1000000")
    s"""WITH RECURSIVE
      |pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |grid AS (
      |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |rs AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS rsum
      |       FROM grid GROUP BY 1),
      |t AS (SELECT g.from_type, g.to_type, $tMicro AS t_micro
      |      FROM grid g JOIN rs r USING (from_type)),
      |states AS (SELECT DISTINCT from_type AS st FROM grid),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
      |it(iter, st, v) AS (
      |  SELECT 0, st, $v0 FROM states, k
      |  UNION ALL
      |  SELECT it.iter + 1, t.to_type, CAST(SUM($step) AS BIGINT)
      |  FROM it JOIN t ON t.from_type = it.st
      |  WHERE it.iter < $iters
      |  GROUP BY it.iter + 1, t.to_type)
      |SELECT st, v AS stationary_micro, CAST(v AS DOUBLE) / 1e6 AS stationary
      |FROM it WHERE iter = $iters ORDER BY st""".stripMargin
  }

  // --- Markov removal-effect attribution -----------------------------------------
  /** Data-driven (Markov removal-effect) attribution over user event
    * journeys (Anderl et al., Int. J. Res. Marketing 2016) — the
    * principled successor to [[lastTouch]]/[[timeDecay]]: model each
    * user's pre-conversion path as a first-order chain
    * (START → events → purchase | END), and credit each channel by how
    * much the conversion probability DROPS when journeys through it are
    * cut ("removal effect"), normalized into attribution shares.
    *
    * Chain spec: journeys truncate at the FIRST 'purchase' (inclusive);
    * non-converting journeys end in the absorbing END state. Removing a
    * channel redirects entry into it to END — implemented as clamping
    * that state's absorption value to 0 in the iteration, which is
    * exactly equivalent.
    *
    * Determinism: the transition grid collapses to ≤ (|types|+1)² exact
    * BIGINT counts (the [[markovStationary]] metadata-bounded collect);
    * row-normalized probabilities and the 30-step absorption value
    * iteration stay on the exact INTEGER micro grid (per-term
    * tm·a div 1e6, order-free integer sums), run once per removal
    * candidate plus the unremoved base — the oracle replays the
    * IDENTICAL integer recursion as one recursive CTE with a `removed`
    * dimension (absorbing states carried by micro self-loops). Shares
    * are one IEEE division of exact micro integers.
    *
    * Scale: two per-user windows (high-cardinality legitimate class)
    * + one grid fold are the only data-sized work; the driver loop
    * touches ≤ channels·iters·|grid| ≈ 5·30·36 integer cells.
    */
  def markovAttribution(s: SparkSession, dir: String,
                        convType: String = "purchase",
                        iters: Int = 30): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wUser = Window.partitionBy(col("user_id"))
    val evs = ev(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .withColumn("cpos",
        min(when(col("event_type") === convType, col("pos"))).over(wUser))
    val trunc = evs.filter(col("cpos").isNull || col("pos") <= col("cpos"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("pos"))
    val withNext = trunc
      .withColumn("nxt", lead(col("event_type"), 1).over(w2))
      .withColumn("maxpos", max(col("pos")).over(wUser))
    val pairs = withNext.filter(col("nxt").isNotNull)
        .select(col("event_type").as("from_type"), col("nxt").as("to_type"))
      .unionAll(withNext.filter(col("pos") === 1L)
        .select(lit("START").as("from_type"), col("event_type").as("to_type")))
      .unionAll(withNext
        .filter(col("cpos").isNull && col("pos") === col("maxpos"))
        .select(col("event_type").as("from_type"), lit("END").as("to_type")))
    val grid = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rsum = grid.groupBy(_._1).map { case (f, cs) => f -> cs.map(_._3).sum }
    // row-normalized micro transitions + micro self-loops carrying the
    // absorbing states through the backward iteration (END stays 0)
    val t = grid.map { case (f, to, n) => (f, to, n * 1000000L / rsum(f)) } ++
      Seq((convType, convType, 1000000L), ("END", "END", 1000000L))
    val states = t.map(_._1).distinct.sorted
    val byFrom = t.groupBy(_._1)
    val channels = grid.map(_._1).distinct
      .filterNot(c => c == "START" || c == convType || c == "END").sorted
    def absorb(removed: String): Long = {
      var a: Map[String, Long] =
        states.map(st => st -> (if (st == convType) 1000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        a = states.map { st =>
          st -> (if (st == removed) 0L
          else byFrom(st).map { case (_, to, tm) =>
            tm * a.getOrElse(to, 0L) / 1000000L
          }.sum)
        }.toMap
      }
      a("START")
    }
    val p0 = absorb("(none)")
    val rows = channels.map { c =>
      val pc = absorb(c)
      (c, p0, pc, math.max(0L, p0 - pc))
    }
    val rtot = rows.map(_._4).sum
    import s.implicits._
    rows.toSeq.map { case (c, b, pc, rnum) =>
      (c, b.toDouble / 1e6, pc.toDouble / 1e6,
        if (b > 0) rnum.toDouble / b.toDouble else Double.NaN,
        if (rtot > 0) rnum.toDouble / rtot.toDouble else Double.NaN)
    }.toDF("channel", "p_base", "p_removed", "removal_effect",
      "attribution_share")
      .select(col("channel"), col("p_base"), col("p_removed"),
        when(!isnan(col("removal_effect")), col("removal_effect"))
          .as("removal_effect"),
        when(!isnan(col("attribution_share")), col("attribution_share"))
          .as("attribution_share"))
      .orderBy(col("channel"))
  }

  /** DuckDB twin of [[markovAttribution]] — the identical integer value
    * iteration as ONE recursive CTE with a `removed` dimension, derived
    * from the SAME convType/iters. */
  def markovAttributionSql(convType: String = "purchase",
                           iters: Int = 30): String = {
    val tMicro = PortableSql.intDiv("g.n * 1000000", "r.rsum")
    val step = PortableSql.intDiv("t2.t_micro * it.a", "1000000")
    s"""WITH RECURSIVE
      |e0 AS (
      |  SELECT user_id, event_type,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         AS BIGINT) AS pos
      |  FROM events),
      |e AS (
      |  SELECT user_id, event_type, pos,
      |    MIN(CASE WHEN event_type = '$convType' THEN pos END)
      |      OVER (PARTITION BY user_id) AS cpos
      |  FROM e0),
      |tr AS (
      |  SELECT user_id, event_type, pos, cpos,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY pos) AS nxt,
      |    MAX(pos) OVER (PARTITION BY user_id) AS maxpos
      |  FROM e WHERE cpos IS NULL OR pos <= cpos),
      |pairs AS (
      |  SELECT event_type AS from_type, nxt AS to_type FROM tr
      |  WHERE nxt IS NOT NULL
      |  UNION ALL
      |  SELECT 'START', event_type FROM tr WHERE pos = 1
      |  UNION ALL
      |  SELECT event_type, 'END' FROM tr
      |  WHERE cpos IS NULL AND pos = maxpos),
      |grid AS (
      |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM pairs GROUP BY 1, 2),
      |rs AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS rsum
      |       FROM grid GROUP BY 1),
      |t2 AS (
      |  SELECT g.from_type, g.to_type, $tMicro AS t_micro
      |  FROM grid g JOIN rs r USING (from_type)
      |  UNION ALL SELECT '$convType', '$convType', 1000000
      |  UNION ALL SELECT 'END', 'END', 1000000),
      |states AS (SELECT DISTINCT from_type AS st FROM t2),
      |rd AS (
      |  SELECT DISTINCT from_type AS removed FROM grid
      |  WHERE from_type NOT IN ('START', '$convType', 'END')
      |  UNION ALL SELECT '(none)'),
      |it(iter, removed, st, a) AS (
      |  SELECT 0, rd.removed, s.st,
      |    CASE WHEN s.st = '$convType' THEN 1000000 ELSE CAST(0 AS BIGINT) END
      |  FROM states s, rd
      |  UNION ALL
      |  SELECT it.iter + 1, it.removed, t2.from_type,
      |    CASE WHEN t2.from_type = it.removed THEN 0
      |         ELSE CAST(SUM($step) AS BIGINT) END
      |  FROM it JOIN t2 ON t2.to_type = it.st
      |  WHERE it.iter < $iters
      |  GROUP BY it.iter + 1, it.removed, t2.from_type),
      |res AS (
      |  SELECT removed AS channel, a AS pc FROM it
      |  WHERE iter = $iters AND st = 'START' AND removed <> '(none)'),
      |base AS (
      |  SELECT a AS p0 FROM it
      |  WHERE iter = $iters AND st = 'START' AND removed = '(none)'),
      |r AS (
      |  SELECT channel, p0, pc, greatest(0, p0 - pc) AS rnum
      |  FROM res, base),
      |tot AS (SELECT CAST(SUM(rnum) AS BIGINT) AS rtot FROM r)
      |SELECT channel,
      |  CAST(p0 AS DOUBLE) / 1e6 AS p_base,
      |  CAST(pc AS DOUBLE) / 1e6 AS p_removed,
      |  CASE WHEN p0 > 0 THEN CAST(rnum AS DOUBLE) / CAST(p0 AS DOUBLE)
      |  END AS removal_effect,
      |  CASE WHEN rtot > 0 THEN CAST(rnum AS DOUBLE) / CAST(rtot AS DOUBLE)
      |  END AS attribution_share
      |FROM r, tot ORDER BY channel""".stripMargin
  }

  // --- position-based (U-shaped) attribution --------------------------------------
  /** Position-based ("U-shaped" 40/20/40) attribution over converting
    * journeys — the rules-based midpoint between [[lastTouch]] and
    * [[markovAttribution]]: the first and last touchpoint before the
    * purchase get 40% credit each and the middle touches split the
    * remaining 20% evenly (1-touch journeys take 100%, 2-touch split
    * 50/50).
    *
    * Determinism: credits live on the integer MICRO grid — the middle
    * split is 200000 div (k−2) per touch (the remainder is dropped,
    * identically in both engines; journeys therefore carry ≤ 1e6
    * micro), per-channel totals are exact BIGINT sums, and the share
    * is one IEEE division. Journeys whose first event IS the purchase
    * have no touchpoints and carry no credit.
    *
    * Scale: the same two per-user windows as [[markovAttribution]]
    * (high-cardinality legitimate class) + one channel fold; output is
    * |channels| rows.
    */
  def attributionPosition(s: SparkSession, dir: String,
                          convType: String = "purchase"): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wUser = Window.partitionBy(col("user_id"))
    val evs = ev(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .withColumn("cpos",
        min(when(col("event_type") === convType, col("pos"))).over(wUser))
    val touches = evs
      .filter(col("cpos").isNotNull && col("pos") < col("cpos"))
      .withColumn("k", col("cpos") - lit(1L))
    val credit = when(col("k") === 1L, lit(1000000L))
      .when(col("k") === 2L, lit(500000L))
      .when(col("pos") === 1L || col("pos") === col("k"), lit(400000L))
      .otherwise(expr("200000 div (k - 2)"))
    val grid = touches
      .select(col("event_type").as("channel"), credit.as("credit_micro"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit_micro")).as("credit"))
    val tot = grid.agg(sum(col("credit")).as("ctot"))
    grid.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_touches"),
        col("credit").as("credit_micro"),
        when(col("ctot") > 0L,
          col("credit").cast("double") / col("ctot").cast("double"))
          .otherwise(lit(null).cast("double")).as("credit_share"))
      .orderBy(col("channel"))
  }

  /** DuckDB twin of [[attributionPosition]], derived from the SAME
    * convType. */
  def attributionPositionSql(convType: String = "purchase"): String = {
    val mid = PortableSql.intDiv("200000", "(k - 2)")
    s"""WITH e0 AS (
      |  SELECT user_id, event_type,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         AS BIGINT) AS pos
      |  FROM events),
      |e AS (
      |  SELECT user_id, event_type, pos,
      |    MIN(CASE WHEN event_type = '$convType' THEN pos END)
      |      OVER (PARTITION BY user_id) AS cpos
      |  FROM e0),
      |touch AS (
      |  SELECT event_type AS channel, pos, cpos - 1 AS k
      |  FROM e WHERE cpos IS NOT NULL AND pos < cpos),
      |cr AS (
      |  SELECT channel,
      |    CASE WHEN k = 1 THEN 1000000
      |         WHEN k = 2 THEN 500000
      |         WHEN pos = 1 OR pos = k THEN 400000
      |         ELSE $mid END AS credit_micro
      |  FROM touch),
      |g AS (
      |  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |    CAST(SUM(credit_micro) AS BIGINT) AS credit
      |  FROM cr GROUP BY channel),
      |t AS (SELECT CAST(SUM(credit) AS BIGINT) AS ctot FROM g)
      |SELECT channel, n_touches, credit AS credit_micro,
      |  CASE WHEN ctot > 0 THEN
      |    CAST(credit AS DOUBLE) / CAST(ctot AS DOUBLE)
      |  END AS credit_share
      |FROM g, t ORDER BY channel""".stripMargin
  }

  // --- weekly growth accounting ----------------------------------------------------
  /** Weekly growth accounting — the new/retained/resurrected/churned
    * decomposition of weekly actives (the Social-Capital "growth
    * accounting" standard): every weekly-active user is exactly one of
    * NEW (first week ever), RETAINED (also active the previous week),
    * or RESURRECTED (returning after a gap), and churned(w) =
    * actives(w−1) − retained(w); the quick ratio
    * (new+resurrected)/churned summarizes gain vs loss. The
    * per-user-lifecycle dual of [[retentionCohorts]] (fixed-cohort
    * view) and [[dauWau]] (volume view).
    *
    * Determinism: weeks are epoch-day div 7 (pure arithmetic — no
    * engine week-origin dependence, the [[hourlyProfile]] rule); every
    * class count is an exact BIGINT from per-user min/lag windows, and
    * the quick ratio is one IEEE division. First week churn is NULL
    * (no prior week).
    *
    * Scale: one distinct (user, week) fold; per-user windows
    * (high-cardinality class) + one lag over the bounded week grid
    * (allowlisted).
    */
  def growthAccounting(s: SparkSession, dir: String): DataFrame = {
    val uw = ev(s, dir)
      .select(col("user_id"),
        expr("datediff(to_date(ts), date'1970-01-01') div 7").cast("long")
          .as("wk"))
      .distinct()
    val wUser = Window.partitionBy(col("user_id"))
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val classified = uw
      .withColumn("first_wk", min(col("wk")).over(wUser))
      .withColumn("prev_wk", lag(col("wk"), 1).over(wSeq))
      .select(col("wk"),
        when(col("wk") === col("first_wk"), 1L).otherwise(0L).as("is_new"),
        when(col("prev_wk") === col("wk") - 1L, 1L).otherwise(0L)
          .as("is_ret"),
        when(col("prev_wk").isNotNull && col("prev_wk") < col("wk") - 1L, 1L)
          .otherwise(0L).as("is_res"))
    val weekly = classified.groupBy(col("wk"))
      .agg(count(lit(1)).as("actives"), sum(col("is_new")).as("new_users"),
        sum(col("is_ret")).as("retained"), sum(col("is_res")).as("resurrected"))
    val wWeek = Window.orderBy(col("wk"))
    weekly
      .withColumn("prev_actives", lag(col("actives"), 1).over(wWeek))
      .select(col("wk"), col("actives"), col("new_users"), col("retained"),
        col("resurrected"),
        when(col("prev_actives").isNotNull,
          col("prev_actives") - col("retained")).as("churned"))
      .select(col("wk"), col("actives"), col("new_users"), col("retained"),
        col("resurrected"), col("churned"),
        when(col("churned") > 0L,
          (col("new_users") + col("resurrected")).cast("double")
            / col("churned").cast("double"))
          .otherwise(lit(null).cast("double")).as("quick_ratio"))
      .orderBy(col("wk"))
  }

  val growthAccountingSql: String = {
    val wk = PortableSql.intDiv(
      "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))", "7")
    s"""WITH uw AS (
      |  SELECT DISTINCT user_id, CAST($wk AS BIGINT) AS wk FROM events),
      |cl AS (
      |  SELECT wk,
      |    CASE WHEN wk = MIN(wk) OVER (PARTITION BY user_id)
      |         THEN 1 ELSE 0 END AS is_new,
      |    CASE WHEN lag(wk) OVER (PARTITION BY user_id ORDER BY wk) = wk - 1
      |         THEN 1 ELSE 0 END AS is_ret,
      |    CASE WHEN lag(wk) OVER (PARTITION BY user_id ORDER BY wk) IS NOT NULL
      |          AND lag(wk) OVER (PARTITION BY user_id ORDER BY wk) < wk - 1
      |         THEN 1 ELSE 0 END AS is_res
      |  FROM uw),
      |wkly AS (
      |  SELECT wk, CAST(COUNT(*) AS BIGINT) AS actives,
      |    CAST(SUM(is_new) AS BIGINT) AS new_users,
      |    CAST(SUM(is_ret) AS BIGINT) AS retained,
      |    CAST(SUM(is_res) AS BIGINT) AS resurrected
      |  FROM cl GROUP BY wk),
      |ch AS (
      |  SELECT wk, actives, new_users, retained, resurrected,
      |    lag(actives) OVER (ORDER BY wk) - retained AS churned
      |  FROM wkly)
      |SELECT wk, actives, new_users, retained, resurrected, churned,
      |  CASE WHEN churned > 0 THEN
      |    CAST(new_users + resurrected AS DOUBLE) / CAST(churned AS DOUBLE)
      |  END AS quick_ratio
      |FROM ch ORDER BY wk""".stripMargin
  }

  // --- hour-of-day x weekday traffic profile -------------------------------------
  /** Hour-of-day × weekday seasonal traffic profile — the 168-cell
    * heatmap behind capacity planning and anomaly baselines ("is
    * Tuesday-9am traffic normal FOR Tuesday 9am"): per (weekday, hour)
    * cell, event count, exact-decimal value total, and the cell's share
    * of all traffic. Weekday is epoch-day mod 7 (0 = Thursday), spelled
    * arithmetically because engines disagree on dayofweek()'s origin
    * (the [[TimeSeries.seasonalDecompose]] rule); hour() shares its
    * 0-23 origin everywhere.
    *
    * Shape: one map-side-combined fold of events into the fixed
    * 168-cell grid, materialized so the grand total derives from the
    * checkpoint (never a second fact scan); share is one IEEE division
    * of exact BIGINTs.
    */
  def hourlyProfile(s: SparkSession, dir: String): DataFrame = {
    val dow = (datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) % 7)
      .cast("long")
    val cells = graft.Graft.materialize(
      ev(s, dir)
        .groupBy(dow.as("dow"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value")))
    val tot = cells.agg(sum(col("n_events")).as("n_all"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hr"), col("n_events"), col("total_value"),
        (col("n_events").cast("double") / col("n_all").cast("double"))
          .as("share"))
      .orderBy(col("dow"), col("hr"))
  }

  val hourlyProfileSql: String =
    """WITH cells AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
      |              AS BIGINT) AS dow,
      |    CAST(hour(ts) AS BIGINT) AS hr,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_all FROM cells)
      |SELECT dow, hr, n_events, total_value,
      |  CAST(n_events AS DOUBLE) / CAST(n_all AS DOUBLE) AS share
      |FROM cells, t ORDER BY dow, hr""".stripMargin

  // --- two-period Poisson rate test ---------------------------------------------
  /** Poisson rate-change test per event type between the first and
    * second half of the observed window (the conditional/binomial
    * exact-test normal approximation, Przyborowski & Wilenski 1940;
    * Lehmann TSH §4.5): under a constant rate, n₁ | n ~
    * Binomial(n, p₀ = t₁/(t₁+t₂)), so z = (n₁ − n·p₀)/√(n·p₀(1−p₀))
    * reads "did this event type's rate actually change" — the
    * release-regression check an ops dashboard runs per signal.
    *
    * Determinism: the split day is integer arithmetic on the observed
    * date bounds (span div 2); counts and exposures are exact BIGINTs;
    * p₀, the rates, and z are a fixed IEEE chain spelled identically
    * in the oracle; degenerate windows (single-sided exposure or
    * n = 0) yield NULL.
    *
    * Shape: a 1-row date-bounds broadcast, one map-side-combined fold
    * of events to the |event types| grid — the fact table is scanned
    * twice (bounds, then counts), both narrow scans.
    */
  def poissonRateTest(s: SparkSession, dir: String): DataFrame = {
    val bounds = ev(s, dir).agg(min(to_date(col("ts"))).as("d0"),
      max(to_date(col("ts"))).as("d1"))
    val counts = ev(s, dir).crossJoin(broadcast(bounds))
      .select(col("event_type"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("span"),
        // `div` (truncating integer division) on BOTH sides — a double
        // `/ 2` here would shift the split day on odd spans
        (datediff(to_date(col("ts")), col("d0")).cast("long") <
          expr("cast(datediff(d1, d0) + 1 as bigint) div 2"))
          .cast("long").as("p1"))
      .groupBy(col("event_type"), col("span"))
      .agg(sum(col("p1")).as("n1"), sum(lit(1L) - col("p1")).as("n2"))
    val t1 = expr("span div 2")
    val t2 = col("span") - t1
    val nd = (col("n1") + col("n2")).cast("double")
    val p0 = t1.cast("double") / col("span").cast("double")
    val z = ((col("n1").cast("double") - nd * p0)
      / sqrt(nd * p0 * (lit(1.0) - p0)))
    counts
      .select(col("event_type"), col("n1"), col("n2"),
        t1.as("t1_days"), t2.as("t2_days"),
        (col("n1").cast("double") / t1.cast("double")).as("rate1"),
        (col("n2").cast("double") / t2.cast("double")).as("rate2"),
        when(t1 > 0L && t2 > 0L && (col("n1") + col("n2")) > 0L, z)
          .otherwise(lit(null).cast("double")).as("z"))
      .orderBy(col("event_type"))
  }

  val poissonRateTestSql: String = {
    val half = PortableSql.intDiv("span", "2")
    s"""WITH b AS (
      |  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      |  FROM events),
      |f AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS span,
      |    CASE WHEN CAST(date_diff('day', d0, CAST(ts AS DATE)) AS BIGINT)
      |              < ${PortableSql.intDiv("CAST(date_diff('day', d0, d1) + 1 AS BIGINT)", "2")}
      |         THEN 1 ELSE 0 END AS p1
      |  FROM events, b),
      |g AS (
      |  SELECT event_type, span,
      |    CAST(SUM(p1) AS BIGINT) AS n1,
      |    CAST(SUM(1 - p1) AS BIGINT) AS n2
      |  FROM f GROUP BY 1, 2),
      |h AS (
      |  SELECT event_type, n1, n2, span,
      |    $half AS t1_days, span - $half AS t2_days
      |  FROM g)
      |SELECT event_type, n1, n2, t1_days, t2_days,
      |  CAST(n1 AS DOUBLE) / CAST(t1_days AS DOUBLE) AS rate1,
      |  CAST(n2 AS DOUBLE) / CAST(t2_days AS DOUBLE) AS rate2,
      |  CASE WHEN t1_days > 0 AND t2_days > 0 AND n1 + n2 > 0 THEN
      |    (CAST(n1 AS DOUBLE)
      |       - CAST(n1 + n2 AS DOUBLE)
      |         * (CAST(t1_days AS DOUBLE) / CAST(span AS DOUBLE)))
      |    / sqrt(CAST(n1 + n2 AS DOUBLE)
      |           * (CAST(t1_days AS DOUBLE) / CAST(span AS DOUBLE))
      |           * (1.0 - CAST(t1_days AS DOUBLE) / CAST(span AS DOUBLE)))
      |  ELSE NULL END AS z
      |FROM h ORDER BY event_type""".stripMargin
  }
}
