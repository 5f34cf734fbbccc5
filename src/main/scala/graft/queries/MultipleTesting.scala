package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multiple-testing correction across the repo's own hypothesis-test
  * battery — the operator an analyst actually runs AFTER the
  * stats/ts/ab families hand back a dozen p-values (20+ tests at
  * α = 5% expect ≥ 1 false rejection; controlling the false-discovery
  * rate is what makes the battery's rejections reportable). Reference
  * capability surface: the serving-layer count/threshold reads of
  * `/root/reference/main.py:69-83` are the seed; the inference battery
  * is the driver-mandated extension, and this closes its loop.
  */
object MultipleTesting {

  /** erfc(x) for x ≥ 0 via the Numerical-Recipes rational chain
    * (Press et al., 2nd ed. §6.2, |ε| ≤ 1.2e-7) — spelled with the
    * SAME literals and operation order as the SQL twin so both
    * engines run the identical IEEE chain. The one cross-engine seam
    * is exp() (JVM vs libm differ by 1 ulp on ~half of inputs —
    * measured r15); the nano-grid rounding in [[bhAdjust]] absorbs
    * it except when p·10⁹ lands within ~an ulp of a .5 boundary —
    * the same measure-zero bet the repo's lnMicro discipline has
    * carried green since r6.
    */
  private[queries] def erfcPos(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.5) * x)
    t * exp(-(x * x) - lit(1.26551223) + t * (lit(1.00002368)
      + t * (lit(0.37409196) + t * (lit(0.09678418)
      + t * (lit(-0.18628806) + t * (lit(0.27886807)
      + t * (lit(-1.13520398) + t * (lit(1.48851587)
      + t * (lit(-0.82215223) + t * lit(0.17087277))))))))))
  }

  /** SQL twin of [[erfcPos]] — identical literals, identical nesting. */
  private[queries] def erfcPosSql(x: String): String =
    s"""(1.0 / (1.0 + 0.5 * ($x))) * exp(-(($x) * ($x)) - 1.26551223
       | + (1.0 / (1.0 + 0.5 * ($x))) * (1.00002368
       | + (1.0 / (1.0 + 0.5 * ($x))) * (0.37409196
       | + (1.0 / (1.0 + 0.5 * ($x))) * (0.09678418
       | + (1.0 / (1.0 + 0.5 * ($x))) * (-0.18628806
       | + (1.0 / (1.0 + 0.5 * ($x))) * (0.27886807
       | + (1.0 / (1.0 + 0.5 * ($x))) * (-1.13520398
       | + (1.0 / (1.0 + 0.5 * ($x))) * (1.48851587
       | + (1.0 / (1.0 + 0.5 * ($x))) * (-0.82215223
       | + (1.0 / (1.0 + 0.5 * ($x))) * 0.17087277)))))))))"""
      .stripMargin.replace("\n", "")

  /** Benjamini–Hochberg FDR adjustment (JRSS-B 1995) over a fixed
    * battery of the repo's own one-row z / 1-df-χ² tests: sign test,
    * Wilcoxon signed-rank, A/B conversion z, Mann–Kendall trend, runs
    * test, Cochran–Armitage trend, McNemar (as z = √χ²_cc), and the
    * five per-event-type Poisson rate tests — m ≈ 12 simultaneous
    * hypotheses, exactly the multiplicity a curation dashboard reports
    * at once. Two-sided p = erfc(|z|/√2) via [[erfcPos]]; adjusted
    * p₍ᵢ₎ = min_{j≥i} p₍ⱼ₎·m/j capped at 1; rejections at q = 5%.
    *
    * Exactness: every battery |z| is already a cross-engine
    * bit-identical IEEE chain (each member is oracle-green on its
    * own); p rides the integer NANO grid (round(p·10⁹) — one rounding
    * point, see [[erfcPos]] on the exp seam), after which ALL BH
    * arithmetic is exact integers: p_nano·m is a BIGINT product
    * (≤ 12·10⁹), the step-up ratio is truncating `div`, the tail
    * running-min is order-free, and the cap is integer LEAST. A NULL
    * statistic (a degenerate member) drops out and m counts only
    * tested hypotheses — identically in both engines.
    *
    * Scale: each member is its own already-audited 1-row (or 5-row)
    * fold; the BH step runs on the ≤12-row battery grid, so the
    * global rank/tail-min windows are bounded by construction
    * (allowlisted in PlanAuditSpec with this argument).
    */
  def bhAdjust(s: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame, zc: Column): DataFrame =
      df.select(lit(name).as("test"), abs(zc).as("abs_z"))
    // The eight battery members are INDEPENDENT 1-to-5-row folds; as
    // one lazy union they planned and executed as a single ~60-stage
    // DAG whose scalar-subquery chains serialize on the driver
    // (measured r18: 6.9 s STEADY-STATE standalone with trivial stage
    // CPU — pure plan/stage latency). Materialize each member's tiny
    // result as its own concurrent job (guide §2.6) and run the BH
    // step over the union of the materialized leaves: identical rows
    // and p-values, wall ≈ the slowest single member.
    val legs: Seq[() => DataFrame] = Seq(
      () => one("ab_conversion", Drift.abConversion(s, dir), col("z")),
      () => one("cochran_armitage",
        Relational.cochranArmitage(s, dir), col("trend_z")),
      () => one("mann_kendall", TimeSeries.mannKendall(s, dir), col("z")),
      () => one("mcnemar",
        Relational.mcnemarYears(s, dir), sqrt(col("chi2_cc"))),
      () => EventQueries.poissonRateTest(s, dir)
        .select(concat(lit("poisson_rate_"), col("event_type")).as("test"),
          abs(col("z")).as("abs_z")),
      () => one("runs_test", TimeSeries.runsTest(s, dir), col("z")),
      () => one("sign_test", Relational.signTest(s, dir), col("z_cc")),
      () => one("wilcoxon_signed",
        Drift.wilcoxonSignedRank(s, dir), col("z")))
    val built = new Array[DataFrame](legs.length)
    graft.Graft.parallelJobs(s, legs.zipWithIndex.map { case (f, i) =>
      () => { built(i) = graft.Graft.materialize(f()) }
    })
    val battery = built.reduce(_.unionAll(_))
    val p = battery.filter(col("abs_z").isNotNull)
      .select(col("test"), col("abs_z"),
        round(erfcPos(col("abs_z") / sqrt(lit(2.0))) * lit(1e9))
          .cast("long").as("p_nano"))
    val m = p.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy(col("p_nano"), col("test"))
    val wTail = Window.orderBy(col("p_nano"), col("test"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    p.crossJoin(broadcast(m))
      .withColumn("i", row_number().over(wRank).cast("long"))
      .withColumn("bh_nano", expr("(p_nano * m) div i"))
      .withColumn("adj_nano",
        least(min(col("bh_nano")).over(wTail), lit(1000000000L)))
      .select(col("test"), col("abs_z"),
        (col("p_nano").cast("double") / lit(1e9)).as("p_value"),
        (col("adj_nano").cast("double") / lit(1e9)).as("p_adjusted"),
        (col("adj_nano") <= lit(50000000L)).as("reject_fdr_5"),
        col("m").as("n_tests"))
      .orderBy(col("p_value"), col("test"))
  }

  val bhAdjustSql: String = {
    val bh = PortableSql.intDiv("p_nano * m", "i")
    val e = erfcPosSql("abs_z / sqrt(2.0)")
    s"""WITH battery AS (
      |  SELECT 'ab_conversion' AS test, abs(z) AS abs_z
      |    FROM (${Drift.abConversionSql()})
      |  UNION ALL
      |  SELECT 'cochran_armitage', abs(trend_z)
      |    FROM (${Relational.cochranArmitageSql})
      |  UNION ALL
      |  SELECT 'mann_kendall', abs(z) FROM (${TimeSeries.mannKendallSql})
      |  UNION ALL
      |  SELECT 'mcnemar', sqrt(chi2_cc) FROM (${Relational.mcnemarYearsSql})
      |  UNION ALL
      |  SELECT 'poisson_rate_' || event_type, abs(z)
      |    FROM (${EventQueries.poissonRateTestSql})
      |  UNION ALL
      |  SELECT 'runs_test', abs(z) FROM (${TimeSeries.runsTestSql})
      |  UNION ALL
      |  SELECT 'sign_test', abs(z_cc) FROM (${Relational.signTestSql})
      |  UNION ALL
      |  SELECT 'wilcoxon_signed', abs(z)
      |    FROM (${Drift.wilcoxonSignedRankSql})),
      |p AS (
      |  SELECT test, abs_z,
      |    CAST(round(($e) * 1e9) AS BIGINT) AS p_nano
      |  FROM battery WHERE abs_z IS NOT NULL),
      |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
      |r AS (
      |  SELECT test, abs_z, p_nano, m,
      |    CAST(ROW_NUMBER() OVER (ORDER BY p_nano, test) AS BIGINT) AS i
      |  FROM p, mm),
      |adj AS (
      |  SELECT test, abs_z, p_nano, m,
      |    LEAST(MIN($bh) OVER (ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
      |      1000000000) AS adj_nano
      |  FROM r)
      |SELECT test, abs_z,
      |  CAST(p_nano AS DOUBLE) / 1e9 AS p_value,
      |  CAST(adj_nano AS DOUBLE) / 1e9 AS p_adjusted,
      |  adj_nano <= 50000000 AS reject_fdr_5,
      |  m AS n_tests
      |FROM adj ORDER BY p_value, test""".stripMargin
  }
}
