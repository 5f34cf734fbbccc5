package graft

import scala.util.{Random, Try}

import graft.functions.ExactSum
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, EvalMode, UnsafeProjection}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `ExactSum` (the body of `Exact.dsum`) against the spelling it
  * replaces, `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`: equal
  * doubles bit for bit, nulls where it is null, and an error where it
  * raises. Seeded values cover the fast step's edges (ties at
  * k + 0.5e-6 and their ulp neighbours, |x| near 1e9), the cast's
  * (1e12, NaN, ±Inf), nulls and empty groups, partial sums that carry
  * across 64 bits, and non-double children; under ANSI (the default)
  * and legacy mode, and with codegen off.
  */
class ExactSumSpec extends SparkSpec {

  private val Micros = DecimalType(18, 6)

  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
  private lazy val ansi = session("spark.sql.ansi.enabled" -> "true")
  private lazy val legacy = session("spark.sql.ansi.enabled" -> "false")

  /** Both spellings take the eval mode of the session that runs the
    * query, so each check runs over a copy of the data in `s`, with `s`
    * active too.
    */
  private def in(s: SparkSession, df: DataFrame): DataFrame = s.createDataFrame(df.rdd, df.schema)
  private def under[A](s: SparkSession)(body: => A): A = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try body
    finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  private def old(x: Column): Column = sum(x.cast(Micros)).cast("double")

  /** key -> raw bits of the aggregate (None for null) */
  private def run(df: DataFrame, agg: Column, keys: Seq[String]): Map[Seq[Any], Option[Long]] =
    df.groupBy(keys.map(col): _*).agg(agg.as("s")).collect().map { r =>
      val k = keys.indices.map(r.get)
      k -> (if (r.isNullAt(keys.size)) None
            else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(keys.size))))
    }.toMap

  /** Both spellings over `x` grouped by `keys`, each its own query. */
  private def agree(s: SparkSession, data: DataFrame, x: Column, keys: String*): Int =
    under(s) {
      val df = in(s, data)
      val got = run(df, ExactSum(x), keys)
      val want = run(df, old(x), keys)
      assert(got.keySet == want.keySet)
      val bad = want.collect { case (k, w) if got(k) != w => (k, w, got(k)) }
      assert(bad.isEmpty, s"${bad.size} groups differ, e.g. ${bad.take(5).map {
        case (k, w, g) => s"$k want ${w.map(java.lang.Double.longBitsToDouble)} " +
          s"got ${g.map(java.lang.Double.longBitsToDouble)}" }.mkString("; ")}")
      want.size
    }

  /** The Spark error condition `agg` over `df` raises, if it raises. */
  private def condition(df: DataFrame, agg: Column): Option[String] =
    Try(df.agg(agg).collect()).failed.toOption.map { e =>
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
        .getOrElse(e.toString)
    }

  /** Both spellings fail, with the same Spark error condition. */
  private def bothRaise(s: SparkSession, data: DataFrame, x: Column): String =
    under(s) {
      val df = in(s, data)
      val want = condition(df, old(x))
      assert(want.isDefined, "the DECIMAL spelling did not raise")
      assert(condition(df, ExactSum(x)) == want)
      want.get
    }

  private def doubles(vs: Seq[java.lang.Double], parts: Int = 4): DataFrame = {
    val rows = vs.zipWithIndex.map { case (v, i) => Row(i.toLong, (i % 97).toLong, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), StructType(Seq(
      StructField("id", LongType), StructField("g", LongType), StructField("x", DoubleType))))
  }

  private def tie(k: Long): Double = (BigDecimal(k, 6) + BigDecimal("0.0000005")).toDouble
  private def around(d: Double): Seq[Double] = {
    val up = math.nextUp(d); val down = math.nextDown(d)
    Seq(math.nextDown(down), down, d, up, math.nextUp(up))
  }

  /** Seeded values the cast accepts: 2-dp prices, uniform and
    * log-uniform magnitudes below 1e12, ties and their ±2-ulp
    * neighbours, the 1e9 fast-path edge, zeros and tiny values.
    */
  private val values: Seq[Double] = {
    val r = new Random(20261020L)
    def sign(d: Double) = if (r.nextBoolean()) -d else d
    val prices = Seq.fill(20000)(sign(r.nextInt(10000000) / 100.0))
    val uniform = Seq.fill(20000)((r.nextDouble() * 2 - 1) * 1e9)
    val logUniform = Seq.fill(20000)(sign(math.pow(10, r.nextDouble() * 23.9 - 12)))
    val ties = Seq.fill(6000)(sign(tie(r.nextLong() % 1000000000000000L).abs))
      .flatMap(around)
    val smallTies = (0L to 2000L).map(tie).flatMap(around).map(sign)
    val edge = Seq(1e9, 999999999.9999995, 999999999.9999994, 999999999.9999996,
      999999999.999999, 1e9 + 0.0000005, 5e8 + 0.5e-6)
      .flatMap(around).flatMap(d => Seq(d, -d))
    val near1e12 = Seq(999999999999.9998, 999999999999.9999, 999999999999.99)
      .flatMap(around).filter(_ < 999999999999.9999).flatMap(d => Seq(d, -d))
    val special = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      1e-7, 4.999999e-7, 5e-7, 5.000001e-7, -5e-7, 1.5e-6, 2.5e-6, 0.1, 0.3, 1e-300)
    prices ++ uniform ++ logUniform ++ ties ++ smallTies ++ edge ++ near1e12 ++ special
  }

  test("every cast-valid double sums bit-identically, alone and in groups (ANSI)") {
    val df = doubles(values.map(Double.box) ++ Seq.fill(50)(null))
    assert(agree(ansi, df, col("x"), "id") == values.size + 50)
    assert(agree(ansi, df, col("x"), "g") == 97)
    agree(ansi, df, col("x"))
    agree(ansi, df, col("x") / 7, "g")
  }

  test("the interpreted path agrees too (codegen off)") {
    val off = session("spark.sql.ansi.enabled" -> "true",
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val df = doubles(values.take(30000).map(Double.box) ++ values.takeRight(14000).map(Double.box))
    agree(off, df, col("x"), "id")
    agree(off, df, col("x"), "g")
  }

  test("nulls, all-null groups and empty input give null") {
    val df = doubles(Seq[java.lang.Double](null, null, 1.5, null, 2.25))
      .withColumn("g", col("id") % 2)
    agree(ansi, df, col("x"), "g")
    agree(ansi, df, col("x"), "id")
    val allNull = under(ansi)(df.filter(col("x").isNull).agg(ExactSum(col("x"))).collect())
    assert(allNull.head.isNullAt(0))
    val empty = under(ansi)(df.filter(lit(false)).agg(ExactSum(col("x"))).collect())
    assert(empty.length == 1 && empty.head.isNullAt(0))
    assert(agree(ansi, df.filter(lit(false)), col("x"), "g") == 0)
  }

  test("16 partitions whose partial sums cross 2^63 unscaled carry exactly") {
    val r = new Random(7L)
    // 999 999 999 999.5 is 9.99e17 unscaled: 12 rows pass 2^63 (9.22e18)
    val big = (0 until 16 * 40).map { i =>
      val v = 999999999999.0 - r.nextInt(1000) + (if (i % 2 == 0) 0.5 else 0.25)
      java.lang.Double.valueOf(if ((i / 40) % 3 == 2) -v else v)
    }
    // fast-path values too: 9 999 rows of ~1e9 per partition cross 2^63
    val fast = (0 until 16 * 9999).map(_ =>
      java.lang.Double.valueOf(999999999.0 - r.nextInt(1000000) / 1000.0))
    for (vs <- Seq(big, fast, big ++ fast)) {
      val df = doubles(vs, parts = 16)
      agree(ansi, df, col("x"))
      agree(ansi, df, col("x"), "g")
      agree(ansi, df.withColumn("x", -col("x")), col("x"))
    }
  }

  test("a total at or past 10^28 unscaled raises under ANSI, is null under legacy") {
    // 10^28 unscaled takes ~10^10 rows of the largest cast-valid value,
    // so the buffer's evaluation is driven directly, interpreted and
    // codegen'd
    def result(mode: EvalMode.Value, total: BigInt): Any = {
      val agg = ExactSum(BoundReference(0, DoubleType, nullable = true), mode)
      val bound = BindReferences.bindReference(agg.evaluateExpression, agg.aggBufferAttributes)
      val buf = InternalRow((total >> 64).toLong, total.toLong, true)
      val interpreted = Try(bound.eval(buf))
      val generated = Try {
        val row = UnsafeProjection.create(Seq(bound)).apply(buf)
        if (row.isNullAt(0)) null else row.getDouble(0)
      }
      assert(interpreted.isSuccess == generated.isSuccess)
      if (interpreted.isSuccess) assert(interpreted.get == generated.get)
      interpreted.get
    }
    val limit = BigInt(10).pow(28)
    for (t <- Seq(limit - 1, -(limit - 1), BigInt(Long.MaxValue) + 1, BigInt(Long.MinValue) - 1,
        BigInt("123456789012345678901234567"))) {
      val want = new java.math.BigDecimal(t.bigInteger, 6).doubleValue
      assert(result(EvalMode.ANSI, t) == want)
      assert(result(EvalMode.LEGACY, t) == want)
    }
    for (t <- Seq(limit, -limit, limit * 1000, BigInt(2).pow(126))) {
      val e = intercept[Exception](result(EvalMode.ANSI, t))
      assert(e.isInstanceOf[ArithmeticException] && e.getMessage.toLowerCase.contains("overflow"),
        s"total $t: $e")
      assert(result(EvalMode.LEGACY, t) == null)
    }
  }

  test("under ANSI, |x| ≥ 1e12 raises the cast's error; NaN and ±Inf cast to null") {
    for (bad <- Seq(1e12, -1e12, 999999999999.9999995, 3e15))
      assert(bothRaise(ansi, doubles(Seq(1.0, bad, 2.0).map(Double.box)), col("x"))
        .startsWith("NUMERIC_VALUE_OUT_OF_RANGE"), s"x = $bad")
    // Spark's double-to-decimal cast maps NaN and ±Inf to null even
    // under ANSI, so those rows drop out of the sum
    val nonFinite = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    agree(ansi, doubles((nonFinite ++ Seq(1.0, 2.0) ++ nonFinite).map(Double.box)), col("x"), "id")
    agree(ansi, doubles((nonFinite :+ 1.5).map(Double.box)), col("x"))
    agree(ansi, doubles(nonFinite.map(Double.box)), col("x"))
  }

  test("the eval mode is the running session's, not the one active when the column is built") {
    val data = doubles(Seq(1.0, 1e12, 2.0).map(Double.box))
    // built, and run, while a legacy session is active, over an ANSI
    // session's frame: raises, as the DECIMAL spelling does there
    under(legacy) {
      val df = in(ansi, data)
      val want = condition(df, old(col("x")))
      assert(want.exists(_.startsWith("NUMERIC_VALUE_OUT_OF_RANGE")), s"DECIMAL spelling: $want")
      assert(condition(df, ExactSum(col("x"))) == want)
    }
    // the mirror: under an active ANSI session over a legacy frame, the
    // 1e12 row casts to null and drops out of both sums
    under(ansi) {
      val df = in(legacy, data)
      def total(agg: Column): Double = df.agg(agg).collect().head.getDouble(0)
      assert(total(ExactSum(col("x"))) == 3.0)
      assert(total(old(col("x"))) == 3.0)
    }
  }

  test("legacy mode: null wherever the DECIMAL spelling is null") {
    val bad = Seq(1e12, -1e12, 999999999999.9999995, 3e15, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val df = doubles((values.take(20000) ++ bad ++ Seq(2.5, 1e13)).map(Double.box) :+ null)
    agree(legacy, df, col("x"), "id")
    agree(legacy, df, col("x"), "g")
    agree(legacy, doubles(bad.map(Double.box)), col("x"))
  }

  test("decimal, long and int children go through Spark's cast unchanged") {
    val r = new Random(11L)
    val rows = (0 until 20000).map { i =>
      val cents = r.nextLong() % 100000000000L
      Row((i % 13).toLong,
        if (i % 101 == 0) null else new java.math.BigDecimal(BigInt(cents).bigInteger, 2),
        if (i % 103 == 0) null else java.lang.Long.valueOf(r.nextLong() % 999999999999L),
        if (i % 107 == 0) null else Integer.valueOf(r.nextInt()),
        new java.math.BigDecimal(BigInt(r.nextLong() % 1000000000000000000L).bigInteger, 8))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), StructType(Seq(
      StructField("g", LongType), StructField("d", DecimalType(14, 2)),
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("w", DecimalType(20, 8)))))
    for (s <- Seq(ansi, legacy); c <- Seq("d", "l", "i", "w")) agree(s, df, col(c), "g")
    bothRaise(ansi, df.withColumn("l", col("l") * 10), col("l"))
    agree(legacy, df.withColumn("l", col("l") * 10), col("l"), "g")
  }

  test("as a window aggregate, over row and range frames") {
    val r = new Random(3L)
    val rows = (0 until 5000).map(i => Row((i % 37).toLong, i.toLong,
      if (i % 211 == 0) null else java.lang.Double.valueOf(tie(r.nextInt(100000000).toLong))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("u", LongType), StructField("t", LongType), StructField("x", DoubleType))))
    val byU = Window.partitionBy(col("u")).orderBy(col("t"))
    for (w <- Seq(byU.rowsBetween(-2, Window.currentRow), byU.rangeBetween(-500L, Window.currentRow))) {
      val (got, want) = under(ansi) {
        def out(c: Column) = df.select(col("t"), c.as("s")).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
                                     else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
          .toMap
        (out(ExactSum(col("x")).over(w)), out(sum(col("x").cast(Micros)).over(w).cast("double")))
      }
      assert(got == want)
    }
  }
}
