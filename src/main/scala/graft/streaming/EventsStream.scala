package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table (SURVEY §2.G
  * extended): watermarked tumbling-window aggregation and gap-based
  * stateful sessionization. StreamingSpec drives both with
  * Trigger.AvailableNow over the test parquet and checks parity with the
  * batch duals in graft.queries.EventQueries.
  */
object EventsStream {

  /** Streaming read of the events parquet dir. A streaming file source
    * needs an explicit schema, and the testdata's `ts` encoding has
    * varied across driver generations (nanos-long vs TIMESTAMP(MICROS);
    * see Tables.events) — so declare the table's schema as `Tables`
    * resolves it (inferred once per session and file listing, no data
    * scan) and normalize `ts` to the canonical microsecond TIMESTAMP
    * with the batch reader's own adaptation. Like Tables.events, legacy
    * nanos files REQUIRE `spark.sql.legacy.parquet.nanosAsLong=true` on
    * the session — set by the session owner, never in here.
    */
  def readStream(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.canonicalTs(spark.readStream
      .schema(graft.Tables.load(spark, sfDir, "events").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))

  /** Stream-STATIC enrichment join: each streaming event picks up its
    * user's dimension attributes (here the market segment from the
    * customer table keyed as user_id). This is stateless on the stream
    * side — no watermark, no state store: the static side is planned as
    * a broadcast into every micro-batch, which is the right (and only
    * sane) shape when the dimension fits executors. For a dimension too
    * large to broadcast the swap is a shuffled stream-static join
    * (stream side re-partitions per batch) — same code, no broadcast
    * hint — or pre-bucketing the dimension. StreamingSpec proves batch
    * parity and asserts the stateless plan (no StateStore in the
    * physical plan).
    */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** The customer-derived user dimension used by [[enrichStream]] —
    * c_custkey doubles as user_id in the test schema.
    */
  def userDim(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))

  /** Watermarked hourly tumbling-window counts per event type — the
    * streaming dual of EventQueries.tumblingHourly. Late data beyond 2
    * hours is dropped by the watermark (the reference tolerates unbounded
    * lateness by sorting at read time, G4 — batch mode keeps that; the
    * stream declares its tolerance explicitly).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Watermarked DAILY distinct-user sketches — the streaming leg of the
    * mergeable-sketch family (EventQueries.hllRollup/topkRollup): each
    * day window emits an HLL sketch of its active users, built
    * incrementally as events arrive and finalized when the watermark
    * passes the window. The sink keeps 4 KiB of reaggregatable state
    * per day, so "distinct users over any range" stays an O(days)
    * union over the STREAMED sketches — the precompute-once pattern,
    * now fed by the live stream instead of a batch rescan. State is
    * window-bounded (watermark evicts closed days), which is the only
    * sketch-building formulation that survives an unbounded stream.
    * StreamingSpec proves the streamed daily estimates EQUAL the batch
    * dual's (sketch merge is deterministic, so stream vs batch
    * partials must land on identical registers).
    */
  def dailyUserSketch(events: DataFrame, horizon: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("approx_users"))
      .select(col("window.start").cast("date").as("day"), col("approx_users"))

  /** Watermarked DAILY value histograms — the streaming leg of
    * [[graft.queries.EventQueries.quantileRollup]]'s quantile sketch:
    * each day window accumulates its 128-bin equi-width histogram
    * incrementally as events arrive (state per day = at most 128
    * (bin, count) rows), finalized when the watermark passes. Because
    * histogram merge is EXACT — integer adds, no randomized compaction
    * — the streamed daily bins must equal the batch dual's bit-for-bit,
    * and any later percentile rollup over streamed state matches the
    * batch answer exactly. StreamingSpec pins that equality.
    */
  def dailyValueHistogram(events: DataFrame,
                          horizon: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .groupBy(window(col("ts"), "1 day"),
        least(floor(col("value") / lit(4.0)).cast("long"), lit(127L)).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("date").as("day"), col("bin"), col("cnt"))

  /** Streaming exact dedup with bounded state — the streaming leg of the
    * LLM-pipeline dedup family: drop events whose `event_id` was already
    * seen, keeping only ids inside the watermark horizon in state
    * (`dropDuplicatesWithinWatermark`), so state size is bounded by the
    * id-arrival rate x horizon instead of growing forever — the only
    * formulation that survives an unbounded 100 TB/day stream. Within
    * the horizon the semantics equal batch `dropDuplicates("event_id")`.
    */
  def dedupStream(events: DataFrame, horizon: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join with state expiry on BOTH sides: each
    * click pairs with the same user's purchases inside the trailing
    * `lookback` window (purchase_ts in [click_ts - lookback, click_ts]).
    * Both inputs are watermarked and the join condition bounds event
    * time in both directions, which is what lets Spark expire buffered
    * rows instead of holding every click and purchase forever — the
    * only stream-stream join formulation that survives an unbounded
    * 100 TB/day stream. Semantics within the horizon equal the batch
    * join on the identical predicate (asserted by StreamingSpec).
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        horizon: String = "2 hours",
                        lookback: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val p = purchases
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") >= col("click_ts") - expr(s"INTERVAL $lookback"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("purchase_value"))
  }

  // --- stateful sessionization ------------------------------------------------

  case class Ev(user_id: Long, event_id: Long, tsMicros: Long, value: Double)
  case class SessionState(sessionId: Long, lastTsMicros: Long,
                          n: Long, total: Double)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        session_value: Double)

  val GapMicros: Long = 30L * 60 * 1000000

  /** Gap-based sessionizer over per-user event groups. Within one
    * AvailableNow batch the group iterator is NOT time-ordered, so the
    * function sorts its group (bounded by events-per-user per batch);
    * across batches the GroupState carries (open session, last seen ts).
    * Emits every session CLOSED by a gap; the final open session stays in
    * state (flushed by timeout in continuous mode).
    */
  def sessionizeFn(userId: Long, rows: Iterator[Ev],
                   state: GroupState[SessionState]): Iterator[SessionOut] = {
    val sorted = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id))
    var out = List.empty[SessionOut]
    var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0.0))
    sorted.foreach { e =>
      if (st.n > 0 && e.tsMicros - st.lastTsMicros > GapMicros) {
        out = SessionOut(userId, st.sessionId, st.n, st.total) :: out
        st = SessionState(st.sessionId + 1, e.tsMicros, 1L, e.value)
      } else {
        st = SessionState(st.sessionId, e.tsMicros, st.n + 1, st.total + e.value)
      }
    }
    state.update(st)
    out.reverse.iterator
  }

  /** flatMapGroupsWithState sessionization — the streaming dual of
    * EventQueries.sessionize (which can emit the still-open final session
    * too; the spec compares the closed ones).
    */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(sessionizeFn)
  }

  // --- stateful first-touch (streaming reach) ---------------------------------

  case class Touch(user_id: Long, tsMicros: Long)
  case class FirstTouch(user_id: Long, first_us: Long)

  /** First-ever-touch per user: emits (user, min event time) the first
    * time a user appears; later batches are absorbed silently. Within a
    * batch the group's minimum is taken exactly, so under AvailableNow
    * over a bounded source the emission IS the event-time first touch
    * (StreamingSpec pins equality with the batch reach curve); across
    * ordered arrivals it is first-touch by arrival, the streaming-reach
    * convention. State is ONE boolean per distinct user — the minimal
    * state any exact reach computation can carry (this is the exact
    * dual of the HLL sketch's approximate register set).
    */
  def firstTouchFn(userId: Long, rows: Iterator[Touch],
                   state: GroupState[Boolean]): Iterator[FirstTouch] = {
    if (state.exists) Iterator.empty
    else {
      state.update(true)
      Iterator.single(FirstTouch(userId, rows.map(_.tsMicros).min))
    }
  }

  /** Streaming dual of EventQueries.reachCurve's first-touch dedup:
    * downstream, a per-day rollup of these emissions gives daily new
    * users and — cumulated — distinct users to date, without ever
    * re-scanning history.
    */
  def firstTouch(spark: SparkSession, events: DataFrame): Dataset[FirstTouch] = {
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[Touch]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(firstTouchFn)
  }
}
