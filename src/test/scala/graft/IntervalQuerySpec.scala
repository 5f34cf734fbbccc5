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
  * (C1), count + double serving (D1/F3) — plus the prepared `serve`
  * path: row parity with `over`, its (fechahora, valor) tie order, and
  * one generated plan with one job for every interval.
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

  /** `over`'s rows, ties put in the (fechahora, valor) order. */
  private def overRows(start: LocalDateTime, end: LocalDateTime) =
    IntervalQuery.over(spark.table(served), start, end).collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1)))
      .sortBy(p => (p._1.getTime, p._2)).toSeq

  private def assertParity(start: LocalDateTime, end: LocalDateTime): Seq[(Timestamp, Double)] = {
    val got = IntervalQuery.serve(spark, start, end, served)
    val want = overRows(start, end)
    assert(got.count == want.size)
    assert(got.data.toSeq == want, s"interval [$start, $end]")
    want
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

  test("serve reuses one generated plan: 0 compiles and 1 job per new interval") {
    val group = "interval_query_spec_reuse"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "serve reuse")
    try {
      val _ = IntervalQuery.serve(spark, at("2025-03-01T00:00:00"), at("2025-03-02T00:00:00"), served)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for (d <- 1 to 6) {
        ListenerBridge.drain(sc)
        val jobs0 = jobs.get
        val r = IntervalQuery.serve(spark, at("2025-03-01T00:00:00").plusDays(d.toLong),
          at("2025-03-01T00:00:00").plusDays(d * 3L).plusSeconds(d.toLong), served)
        assert(r.count > 0)
        ListenerBridge.drain(sc)
        assert(jobs.get - jobs0 == 1, s"interval $d started ${jobs.get - jobs0} jobs")
      }
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles0,
        "a new interval compiled new code")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
