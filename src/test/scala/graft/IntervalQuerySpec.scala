package graft

import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.IntervalQuery
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's interval query (/root/reference/main.py:61-86) —
  * golden values from /root/reference/tests/tests.py:215-247:
  * equal-bounds rejection (B3), inclusive bounds (B2), ascending order
  * (C1), count + double serving (D1/F3) — plus `serve`: row parity
  * with `over` and its (fechahora, valor) tie order, through appends,
  * DROP and re-create; no job per request once its snapshot is built,
  * one build for concurrent cold callers, and the prepared plan (a
  * view, a table over the row cap): one job and no compile per new
  * interval.
  */
class IntervalQuerySpec extends SparkSpec {

  private lazy val table = {
    val schema = StructType(Seq(
      StructField("fechahora", TimestampType),
      StructField("valor", DecimalType(12, 4))))
    val rows = Seq(
      Row(java.sql.Timestamp.valueOf("2025-01-01 10:00:00"), BigDecimal("3900.12").bigDecimal),
      Row(java.sql.Timestamp.valueOf("2025-01-01 10:05:00"), BigDecimal("3901.34").bigDecimal),
      Row(java.sql.Timestamp.valueOf("2025-01-01 10:10:00"), BigDecimal("3899.99").bigDecimal))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  test("B3: equal bounds are an error, not an empty result (tests.py:224-230)") {
    val now = LocalDateTime.parse("2025-01-01T12:00:00")
    val e = intercept[IllegalArgumentException] {
      IntervalQuery.over(table, now, now)
    }
    assert(e.getMessage.contains("debe ser mayor"))
  }

  test("B3: inverted bounds are an error") {
    intercept[IllegalArgumentException] {
      IntervalQuery.over(table,
        LocalDateTime.parse("2025-01-02T00:00:00"),
        LocalDateTime.parse("2025-01-01T00:00:00"))
    }
  }

  test("count=3, values in insertion-time order, asc fechahora (tests.py:232-247)") {
    val res = IntervalQuery.over(table,
      LocalDateTime.parse("2025-01-01T09:59:00"),
      LocalDateTime.parse("2025-01-01T10:11:00")).collect()
    assert(res.length == 3)
    assert(res.map(_.getDouble(1)).toSeq == Seq(3900.12, 3901.34, 3899.99))
    val fechas = res.map(_.getTimestamp(0).getTime).toSeq
    assert(fechas == fechas.sorted)
  }

  test("B2: bounds are inclusive at BOTH ends") {
    val res = IntervalQuery.over(table,
      LocalDateTime.parse("2025-01-01T10:00:00"),
      LocalDateTime.parse("2025-01-01T10:10:00")).collect()
    assert(res.length == 3) // both endpoints included
  }

  test("request bounds are second-truncated before binding (main.py:66-67)") {
    // 10:00:00.999 truncates to 10:00:00, so the 10:00:00 row is included
    val res = IntervalQuery.over(table,
      LocalDateTime.parse("2025-01-01T10:00:00.999"),
      LocalDateTime.parse("2025-01-01T10:04:00")).collect()
    assert(res.length == 1)
  }

  test("F2: output formatting matches the reference's %Y-%m-%d %H:%M:%S") {
    val df = IntervalQuery.over(table,
      LocalDateTime.parse("2025-01-01T00:00:00"),
      LocalDateTime.parse("2025-01-02T00:00:00"))
    val out = IntervalQuery.formatted(df).collect()
    assert(out.head.getString(0) == "2025-01-01 10:00:00")
  }

  test("valor is served as double (main.py:85)") {
    val df = IntervalQuery.over(table,
      LocalDateTime.parse("2025-01-01T00:00:00"),
      LocalDateTime.parse("2025-01-02T00:00:00"))
    assert(df.schema("valor").dataType == DoubleType)
  }

  // -- serve: the prepared path -------------------------------------------

  private val servedTable = "interval_query_spec_dolar"

  /** 40 days of 6-hourly rows, one off-second row, and a cluster of
    * equal timestamps (one exact duplicate row) inserted out of valor
    * order — as a managed table, like the one the API serves.
    */
  private lazy val served: String = {
    val base = LocalDateTime.parse("2025-03-01T00:00:00")
    val regular = (0 until 40 * 4).map { i =>
      (Timestamp.valueOf(base.plusHours(6L * i)), BigDecimal(3900 + (i * 37) % 101) / 100 + 3800)
    }
    val dup = Timestamp.valueOf("2025-03-10 12:00:00") // also a regular row's second
    val extra = Seq(
      (dup, BigDecimal("3999.5000")), (dup, BigDecimal("3800.2500")),
      (dup, BigDecimal("3999.5000")), (dup, BigDecimal("3850.0000")),
      (Timestamp.valueOf("2025-03-05 07:30:00.500"), BigDecimal("3870.1000")))
    val schema = StructType(Seq(
      StructField("fechahora", TimestampType),
      StructField("valor", DecimalType(12, 4))))
    val rows = (regular ++ extra).map { case (t, v) => Row(t, v.bigDecimal) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").saveAsTable(servedTable)
    servedTable
  }

  override def afterAll(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $servedTable")
    super.afterAll()
  }

  private def at(s: String) = LocalDateTime.parse(s)

  private val rowSchema = StructType(Seq(
    StructField("fechahora", TimestampType),
    StructField("valor", DecimalType(12, 4))))

  /** Writes `rows` to the managed table `name` through `saveAsTable`. */
  private def write(name: String, rows: Seq[(LocalDateTime, BigDecimal)], mode: String,
                    files: Int = 2): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (t, v) => Row(Timestamp.valueOf(t), v.bigDecimal) }, files), rowSchema)
      .write.mode(mode).saveAsTable(name)

  /** `over`'s rows, ties put in the (fechahora, valor) order. */
  private def overRows(start: LocalDateTime, end: LocalDateTime, table: String) =
    IntervalQuery.over(spark.table(table), start, end).collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1)))
      .sortBy(p => (p._1.getTime, p._1.getNanos, p._2)).toSeq

  private def assertParity(start: LocalDateTime, end: LocalDateTime,
                           table: String = served): Seq[(Timestamp, Double)] = {
    val got = IntervalQuery.serve(spark, start, end, table)
    val want = overRows(start, end, table)
    assert(got.count == want.size)
    assert(got.data.toSeq == want, s"interval [$start, $end] of $table")
    want
  }

  /** Jobs started by `body` and the janino compiles it caused, counted
    * through a job group that threads started inside `body` inherit.
    */
  private def counted[A](body: => A): (A, Int, Long) = {
    val group = s"interval_query_spec_${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "interval query spec")
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      ListenerBridge.drain(sc)
      (out, jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("serve == over: bounds on a row's second are inclusive at both ends") {
    val rows = assertParity(at("2025-03-02T06:00:00"), at("2025-03-03T18:00:00"))
    assert(rows.size == 7)
    assert(rows.head._1 == Timestamp.valueOf("2025-03-02 06:00:00"))
    assert(rows.last._1 == Timestamp.valueOf("2025-03-03 18:00:00"))
  }

  test("serve == over: bounds carrying milliseconds are second-truncated") {
    // start 07:30:00.999 truncates to 07:30:00, which admits the 07:30:00.500 row
    val from = assertParity(at("2025-03-05T07:30:00.999"), at("2025-03-06T06:00:00.250"))
    assert(from.map(_._1) == Seq("2025-03-05 07:30:00.5", "2025-03-05 12:00:00",
      "2025-03-05 18:00:00", "2025-03-06 00:00:00", "2025-03-06 06:00:00").map(Timestamp.valueOf))
    // end 07:30:00.999 truncates to 07:30:00, which excludes it
    val upTo = assertParity(at("2025-03-05T06:00:00.400"), at("2025-03-05T07:30:00.999"))
    assert(upTo.map(_._1) == Seq(Timestamp.valueOf("2025-03-05 06:00:00")))
  }

  test("serve == over: an empty interval") {
    assert(assertParity(at("2030-01-01T00:00:00"), at("2030-02-01T00:00:00")).isEmpty)
  }

  test("serve == over: equal timestamps come back in valor order") {
    val rows = assertParity(at("2025-03-10T11:00:00"), at("2025-03-10T13:00:00"))
    assert(rows.map(_._1).distinct == Seq(Timestamp.valueOf("2025-03-10 12:00:00")))
    assert(rows.map(_._2) == Seq(3800.25, 3839.93, 3850.0, 3999.5, 3999.5))
  }

  test("serve == over: a 30-day interval") {
    val rows = assertParity(at("2025-03-03T00:00:00"), at("2025-04-02T00:00:00"))
    assert(rows.size == 30 * 4 + 1 + 4 + 1) // 6-hourly rows, both ends, the extras
  }

  test("serve still rejects equal and inverted bounds (validate)") {
    val now = at("2025-03-10T12:00:00")
    val e = intercept[IllegalArgumentException](IntervalQuery.serve(spark, now, now, served))
    assert(e.getMessage.contains("debe ser mayor"))
    intercept[IllegalArgumentException](
      IntervalQuery.serve(spark, now, now.minusDays(1), served))
  }

  test("serve == over after each of 8 appends, for seeded random and edge intervals") {
    val name = "interval_query_spec_appends"
    val rnd = new scala.util.Random(20251019L)
    val base = at("2025-06-01T00:00:00")
    var times = Vector.empty[LocalDateTime]
    try for (step <- 0 until 8) {
      val batch = (0 until 1 + rnd.nextInt(40)).map { _ =>
        val t =
          if (times.nonEmpty && rnd.nextInt(4) == 0) times(rnd.nextInt(times.size)) // a duplicate
          else base.plusSeconds(rnd.nextInt(5 * 86400).toLong)
            .plusNanos(if (rnd.nextInt(5) == 0) 1000000L * (1 + rnd.nextInt(999)) else 0L)
        (t, BigDecimal(380000 + rnd.nextInt(2000), 2))
      }
      write(name, batch, if (step == 0) "overwrite" else "append")
      times ++= batch.map(_._1)
      val sorted = times.sorted
      val (first, last) = (sorted.head, sorted.last)
      def pick = sorted(rnd.nextInt(sorted.size))
      val (a, b) = { val x = pick; val y = pick; if (x.isBefore(y)) (x, y) else (y, x) }
      val edges = Seq(
        (a.withNano(0), b.withNano(0).plusSeconds(1)),                // on rows' seconds
        (a.withNano(999000000), b.withNano(250000000).plusSeconds(1)), // bounds with ms
        (first.minusDays(2), first.minusDays(1)),                     // before the first row
        (last.plusDays(1), last.plusDays(2)),                         // after the last row
        (first.minusDays(1), last.plusDays(1)),                       // every row
        (b.plusNanos(1000000), b.plusNanos(2000000)))                 // within one second
      val random = (0 until 12).map { _ =>
        val s = base.plusSeconds(rnd.nextInt(5 * 86400).toLong).plusNanos(1000000L * rnd.nextInt(1000))
        (s, s.plusSeconds(1L + rnd.nextInt(86400)).plusNanos(1000000L * rnd.nextInt(1000)))
      }
      for ((s, e) <- edges ++ random) { val _ = assertParity(s, e, name) }
    } finally { val _ = spark.sql(s"DROP TABLE IF EXISTS $name") }
  }

  test("serve sees a row appended by saveAsTable on the very next call") {
    val name = "interval_query_spec_fresh"
    val (from, to) = (at("2025-07-01T00:00:00"), at("2025-07-02T00:00:00"))
    try {
      write(name, Seq((at("2025-07-01T08:00:00"), BigDecimal("3900.1000"))), "overwrite")
      assert(IntervalQuery.serve(spark, from, to, name).count == 1)
      write(name, Seq((at("2025-07-01T09:00:00"), BigDecimal("3901.2000"))), "append")
      val got = IntervalQuery.serve(spark, from, to, name)
      assert(got.data.toSeq == Seq(
        (Timestamp.valueOf("2025-07-01 08:00:00"), 3900.1),
        (Timestamp.valueOf("2025-07-01 09:00:00"), 3901.2)))
    } finally { val _ = spark.sql(s"DROP TABLE IF EXISTS $name") }
  }

  test("serve after DROP TABLE raises, and after a re-create shows the new contents") {
    val name = "interval_query_spec_recreate"
    val (from, to) = (at("2025-07-01T00:00:00"), at("2025-07-02T00:00:00"))
    try {
      write(name, Seq((at("2025-07-01T08:00:00"), BigDecimal("3900.1000"))), "overwrite")
      assert(IntervalQuery.serve(spark, from, to, name).count == 1)
      spark.sql(s"DROP TABLE $name")
      intercept[org.apache.spark.sql.AnalysisException](IntervalQuery.serve(spark, from, to, name))
      write(name, Seq((at("2025-07-01T10:00:00"), BigDecimal("3777.0000"))), "overwrite")
      assert(IntervalQuery.serve(spark, from, to, name).data.toSeq ==
        Seq((Timestamp.valueOf("2025-07-01 10:00:00"), 3777.0)))
    } finally { val _ = spark.sql(s"DROP TABLE IF EXISTS $name") }
  }

  test("serve reuses one generated plan: 0 compiles and 1 job per new interval") {
    // a view has no location of its own, so the prepared plan serves it
    val view = "interval_query_spec_dolar_view"
    spark.table(served).createOrReplaceTempView(view)
    val t0 = at("2025-03-01T00:00:00")
    try {
      val _ = IntervalQuery.serve(spark, t0, t0.plusDays(1), view)
      for (d <- 1 to 6) {
        val (s, e) = (t0.plusDays(d.toLong), t0.plusDays(d * 3L).plusSeconds(d.toLong))
        val (r, jobs, compiles) = counted(IntervalQuery.serve(spark, s, e, view))
        assert(r.count > 0)
        assert(r.data.toSeq == overRows(s, e, served), s"interval [$s, $e]")
        assert(jobs == 1, s"interval $d started $jobs jobs")
        assert(compiles == 0, s"interval $d compiled $compiles classes")
      }
    } finally { val _ = spark.catalog.dropTempView(view) }
  }

  test("serve answers new intervals with 0 jobs and 0 compiles; an append costs one rebuild") {
    val name = "interval_query_spec_jobs"
    val t0 = at("2025-03-01T00:00:00")
    val rows = (0 until 40 * 4).map(i => (t0.plusHours(6L * i), BigDecimal(3800 + i)))
    def interval(d: Int) = (t0.plusDays(d.toLong), t0.plusDays(d * 3L).plusSeconds(d.toLong))
    try {
      write(name, rows, "overwrite", files = 3)
      val (_, buildJobs, _) = counted(IntervalQuery.serve(spark, t0, t0.plusDays(1), name))
      assert(buildJobs > 0, "the first call builds the snapshot")
      for (d <- 1 to 6) {
        val (s, e) = interval(d)
        val (r, jobs, compiles) = counted(IntervalQuery.serve(spark, s, e, name))
        assert(r.count > 0)
        assert(jobs == 0 && compiles == 0,
          s"interval [$s, $e] started $jobs jobs and compiled $compiles classes")
      }
      write(name, Seq((t0.plusDays(50), BigDecimal(4000))), "append")
      val (grown, rebuildJobs, _) =
        counted(IntervalQuery.serve(spark, t0, t0.plusDays(60), name))
      assert(grown.count == rows.size + 1)
      assert(rebuildJobs > 0, "an append rebuilds the snapshot on the next call")
      for (d <- 1 to 3) {
        val (s, e) = interval(d)
        val (_, jobs, compiles) = counted(IntervalQuery.serve(spark, s, e, name))
        assert(jobs == 0 && compiles == 0, s"interval $d after the rebuild: $jobs jobs")
      }
    } finally { val _ = spark.sql(s"DROP TABLE IF EXISTS $name") }
  }

  test("8 concurrent cold callers get their golden rows from one snapshot build") {
    val name = "interval_query_spec_cold"
    val t0 = at("2025-08-01T00:00:00")
    try {
      // one file: one build is one job
      write(name, (0 until 500).map(i => (t0.plusMinutes(17L * i), BigDecimal(3800 + i % 97))),
        "overwrite", files = 1)
      val intervals = (0 until 8).map(k =>
        (t0.plusHours(7L * k).plusSeconds(13), t0.plusHours(7L * k + 20).plusNanos(500000000L)))
      val golden = intervals.map { case (s, e) => overRows(s, e, name) }
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val gate = new java.util.concurrent.CountDownLatch(1)
      val (_, jobs, _) = counted {
        val threads = intervals.zip(golden).map { case ((s, e), want) =>
          new Thread(() => {
            gate.await()
            try {
              val got = IntervalQuery.serve(spark, s, e, name)
              if (got.data.toSeq != want) failures.add(s"[$s, $e]: ${got.count} rows, want ${want.size}")
            } catch { case ex: Exception => failures.add(s"[$s, $e]: $ex") }
          })
        }
        threads.foreach(_.start())
        gate.countDown()
        threads.foreach(_.join())
      }
      assert(failures.isEmpty, failures.toArray.mkString("\n"))
      assert(jobs == 1, s"8 cold callers started $jobs jobs, one build is one job")
    } finally { val _ = spark.sql(s"DROP TABLE IF EXISTS $name") }
  }

  test("a table over the 2^20-row cap is served by the prepared plan, logged once") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val name = "interval_query_spec_big"
    val t0 = at("2025-01-01T00:00:00")
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("interval-query-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN) {
          val _ = warnings.add(e.getMessage.getFormattedMessage)
        }
    }
    val logger = LogManager.getLogger(IntervalQuery.getClass.getName).asInstanceOf[CoreLogger]
    appender.start()
    logger.addAppender(appender)
    try {
      spark.range((1L << 20) + 1)
        .select(timestamp_seconds(lit(Timestamp.valueOf(t0).getTime / 1000) + col("id") * 60)
          .as("fechahora"), (lit(3800) + col("id") % 997 / 100).cast("decimal(12,4)").as("valor"))
        .write.mode("overwrite").saveAsTable(name)
      val _ = IntervalQuery.serve(spark, t0, t0.plusHours(1), name) // the verdict
      for (d <- 1 to 3) {
        val (s, e) = (t0.plusDays(d * 100L).plusSeconds(7), t0.plusDays(d * 100L).plusHours(5))
        val (got, jobs, _) = counted(IntervalQuery.serve(spark, s, e, name))
        assert(got.count == 5 * 60 && got.data.toSeq == overRows(s, e, name))
        assert(jobs == 1, s"the prepared plan runs one job per request, got $jobs")
      }
      val logged = warnings.toArray.map(_.toString).filter(_.contains(name))
      assert(logged.length == 1, logged.mkString("\n"))
      assert(logged.head.contains(s"more than ${1 << 20} rows"))
    } finally {
      logger.removeAppender(appender)
      val _ = spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }
}
