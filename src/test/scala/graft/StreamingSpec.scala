package graft

import java.nio.file.Files

import graft.ingest.{DolarIngest, RawZone}
import graft.queries.EventQueries
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Streaming surface (G1-G5): the event-driven incremental loads must
  * produce byte-identical tables to the batch loads (per-batch
  * atomicity + checkpointed exactly-once), and the streaming event
  * aggregations must agree with their batch duals.
  */
class StreamingSpec extends SparkSpec {

  test("G1/G3: AvailableNow streaming ingest == batch ingest, exactly-once on restart") {
    val tmp = Files.createTempDirectory("graft_stream_spec")
    val raw = tmp.resolve("raw").toString
    RawZone.write(raw, 1L, """[["1757509256000","3920.00"],["1757509266000","3921.50"]]""")
    // one unconvertible value beside a good row (dropped and counted)
    RawZone.write(raw, 2L, """[["1757509276000","3922.25"],["1757509296000","abc"]]""")
    // a file whose rows are all bad inserts nothing (H3)
    RawZone.write(raw, 4L, """[["x"],["1757509306000","n/a"]]""")

    val batchDest = tmp.resolve("batch").toString
    val report = DolarIngest.batchToPath(spark, raw, batchDest)
    assert(report.filesProcessed == 2 && report.totalRowsInserted == 3)

    val streamDest = tmp.resolve("stream").toString
    val ckpt = tmp.resolve("ckpt").toString
    DolarIngest.stream(spark, raw, streamDest, ckpt).awaitTermination()

    def dump(p: String) = spark.read.parquet(p)
      .orderBy(col("fechahora"))
      .select(date_format(col("fechahora"), "yyyy-MM-dd HH:mm:ss"), col("valor").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(dump(streamDest) == dump(batchDest))

    // restart with same checkpoint: no new files -> no duplicates (G3)
    DolarIngest.stream(spark, raw, streamDest, ckpt).awaitTermination()
    assert(dump(streamDest) == dump(batchDest))

    // new file arrives -> only it is processed (G2 incremental)
    RawZone.write(raw, 3L, """[["1757509286000","3923.00"]]""")
    DolarIngest.stream(spark, raw, streamDest, ckpt).awaitTermination()
    assert(spark.read.parquet(streamDest).count() == 4)
  }

  test("H1: a corrupt raw file fails the stream before anything is written") {
    val tmp = Files.createTempDirectory("graft_stream_corrupt")
    val raw = tmp.resolve("raw").toString
    val dest = tmp.resolve("dolar")
    RawZone.write(raw, 1L, """[["1757509256000","3920.00"]]""")
    RawZone.write(raw, 2L, """{"not": "an array"}""")
    val e = intercept[Exception] {
      DolarIngest.stream(spark, raw, dest.toString, tmp.resolve("ckpt").toString)
        .awaitTermination()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[DolarIngest.CorruptFileException]),
      s"no CorruptFileException in the cause chain: ${chain.map(_.getClass.getName)}")
    assert(!Files.exists(dest), "the failed batch wrote to dest")
  }

  test("G2: ProcessingTime trigger drains two files as two live microbatches") {
    // the continuous spelling of the reference's on-arrival mode
    // (zappa_settings.json:49-57): the query stays up between files, so
    // a file written AFTER a full drain must land in a LATER microbatch
    // — pinning `dolar_e2e_stream_pt`'s two-batch choreography and that
    // the live-trigger output equals the batch ingest byte for byte.
    val tmp = Files.createTempDirectory("graft_stream_pt_spec")
    val raw = tmp.resolve("raw").toString
    val dest = tmp.resolve("dolar").toString
    RawZone.write(raw, 1L, """[["1757509256000","3920.00"],["1757509266000","3921.50"]]""")
    val q = DolarIngest.stream(spark, raw, dest, tmp.resolve("chk").toString,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    val batches =
      try {
        q.processAllAvailable() // microbatch: file 1 alone
        RawZone.write(raw, 2L, """[["1757509276000","abc"],["1757509286000","3922.25"],["x"]]""")
        q.processAllAvailable() // later microbatch: file 2
        q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    assert(batches == 2, s"expected exactly two non-empty microbatches, saw $batches")
    val rows = spark.read.parquet(dest)
      .orderBy(col("fechahora"))
      .select(date_format(col("fechahora"), "yyyy-MM-dd HH:mm:ss"), col("valor").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(
      ("2025-09-10 13:00:56", 3920.00),
      ("2025-09-10 13:01:06", 3921.50),
      ("2025-09-10 13:01:26", 3922.25)))
  }

  test("streaming hourly window agg matches batch tumblingHourly") {
    val tmp = Files.createTempDirectory("graft_stream_ev")
    val out = tmp.resolve("hourly").toString
    val ckpt = tmp.resolve("ckpt").toString
    EventsStream.hourlyCounts(EventsStream.readStream(spark, sf))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start()
      .awaitTermination()

    // watermark in append mode withholds windows not yet past the
    // watermark; compare only the emitted (closed) windows.
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventQueries.tumblingHourly(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch), s"streamed windows disagree with batch")
  }

  test("streamed daily value histograms equal the batch bins bit-for-bit") {
    val tmp = Files.createTempDirectory("graft_stream_hist")
    val out = tmp.resolve("daily").toString
    val ckpt = tmp.resolve("ckpt").toString
    EventsStream.dailyValueHistogram(EventsStream.readStream(spark, sf))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start()
      .awaitTermination()
    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    // batch dual: same binning over the raw table. Histogram merge is
    // exact integer addition, so every CLOSED (emitted) day must agree
    // exactly — this is what makes percentile rollups over streamed
    // state interchangeable with the batch sketch.
    val batch = graft.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"),
        least(floor(col("value") / lit(4.0)).cast("long"), lit(127L)).as("bin"))
      .count()
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (key, cnt) =>
      assert(batch.get(key).contains(cnt),
        s"bin $key: streamed $cnt vs batch ${batch.get(key)}")
    }
    // emitted days must be COMPLETE: every batch bin of an emitted day
    // is present (a missing bin would silently skew the percentile)
    val emittedDays = streamed.keySet.map(_._1)
    batch.keys.filter(k => emittedDays.contains(k._1)).foreach { k =>
      assert(streamed.contains(k), s"missing streamed bin $k")
    }
  }

  test("streamed daily HLL sketches equal the batch daily estimates") {
    val tmp = Files.createTempDirectory("graft_stream_hll")
    val out = tmp.resolve("daily").toString
    val ckpt = tmp.resolve("ckpt").toString
    EventsStream.dailyUserSketch(EventsStream.readStream(spark, sf))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start()
      .awaitTermination()
    val streamed = spark.read.parquet(out).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // batch dual at the same day grain and lgK
    val batch = graft.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("est"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // append mode withholds the still-open tail windows; every emitted
    // (closed) day must match the batch estimate EXACTLY — HLL register
    // merge is deterministic, stream partials land on the same sketch
    assert(streamed.nonEmpty)
    streamed.foreach { case (day, est) =>
      assert(batch.get(day).contains(est),
        s"day $day: streamed $est vs batch ${batch.get(day)}")
    }
  }

  test("streaming dedup within watermark emits each event_id exactly once") {
    val tmp = Files.createTempDirectory("graft_stream_dedup")
    val out = tmp.resolve("dedup").toString
    val ckpt = tmp.resolve("ckpt").toString
    EventsStream.dedupStream(EventsStream.readStream(spark, sf))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start()
      .awaitTermination()

    val ids = spark.read.parquet(out).collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    assert(ids.length == ids.distinct.length, "duplicate event_id emitted")
    // within-horizon semantics equal the batch exact dedup on event_id
    val batchDistinct = graft.Tables.events(spark, sf)
      .dropDuplicates("event_id").count()
    assert(ids.length == batchDistinct)
  }

  test("stateful sessionize (closed sessions) agrees with batch sessionize") {
    val tmp = Files.createTempDirectory("graft_stream_sess")
    val out = tmp.resolve("sessions").toString
    val ckpt = tmp.resolve("ckpt").toString
    EventsStream.sessionize(spark, EventsStream.readStream(spark, sf))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start()
      .awaitTermination()

    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventQueries.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // stream emits only gap-closed sessions; each must match the batch
    // session with the same (user, session_id, n_events)
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"closed streaming sessions not found in batch: ${streamed -- batch}")
  }

  test("stream-stream interval join equals the batch join within the horizon") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_stream_ssj")
    val out = tmp.resolve("joined").toString
    val ckpt = tmp.resolve("ckpt").toString
    val src = EventsStream.readStream(spark, sf)
    EventsStream.clickPurchaseJoin(
        src.filter(col("event_type") === "click"),
        src.filter(col("event_type") === "purchase"))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start()
      .awaitTermination()

    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val ev = graft.Tables.events(spark, sf)
    val batch = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
            col("value").as("purchase_value"), col("ts").as("purchase_ts")),
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") <= col("click_ts") &&
          col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 hour"))
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("purchase_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed.nonEmpty)
    // append mode may withhold pairs not yet past the watermark at
    // end-of-input; every emitted pair must be a batch pair
    assert(streamed.subsetOf(batch),
      s"streamed pairs disagree with batch: ${(streamed -- batch).take(3)}")
    // and with AvailableNow over a finite file the horizon covers the
    // data, so the join must emit the overwhelming majority of pairs
    assert(streamed.size >= (batch.size * 9) / 10,
      s"stream emitted ${streamed.size} of ${batch.size} pairs")
  }

  test("stream-static enrichment equals the batch join and keeps no state") {
    val tmp = Files.createTempDirectory("graft_stream_enrich")
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    val dim = EventsStream.userDim(spark, sf)
    val q = EventsStream.enrichStream(EventsStream.readStream(spark, sf), dim)
      .select(col("event_id"), col("user_id"), col("segment"))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    val batch = EventsStream.enrichStream(Tables.events(spark, sf), dim)
      .select(col("event_id"), col("user_id"), col("segment")).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    // stateless: every event emitted exactly once, identical to batch
    assert(streamed == batch)
    // the plan must carry no state store (a stateful formulation would
    // accumulate the dimension — or worse, the stream — as state)
    assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty))
  }

  test("streamed first-touch emissions equal the batch reach curve exactly") {
    val tmp = Files.createTempDirectory("graft_stream_reach")
    val out = tmp.resolve("touch").toString
    val ckpt = tmp.resolve("ckpt").toString
    EventsStream.firstTouch(spark, EventsStream.readStream(spark, sf))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start()
      .awaitTermination()
    val touches = spark.read.parquet(out)
    // exactly one emission per distinct user, at that user's true min ts
    val batchFirst = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = touches.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batchFirst)
    // daily rollup of the emissions == the batch reach curve's n_new
    val streamedDaily = touches
      .select(to_date(timestamp_micros(col("first_us"))).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_new"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val batchCurve = EventQueries.reachCurve(spark, sf).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(streamedDaily == batchCurve)
  }
}
