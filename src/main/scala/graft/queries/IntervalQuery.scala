package graft.queries

import java.time.LocalDateTime
import graft.functions.BoundParam
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's one real query (/root/reference/main.py:61-86):
  *
  *   SELECT fechahora, valor FROM dolar
  *   WHERE fechahora >= :start AND fechahora <= :end   -- inclusive BOTH ends
  *   ORDER BY fechahora ASC
  *
  * with request semantics:
  *   - `end > start` strictly, else the request is rejected (main.py:63-64
  *     — equal bounds are an ERROR, not an empty result);
  *   - bounds are second-truncated before binding (main.py:66-67);
  *   - `valor` is DECIMAL(12,4) at rest but served as double (main.py:85).
  */
object IntervalQuery {

  case class Result(count: Long, data: Array[(java.sql.Timestamp, Double)])

  /** B3: strict validation — equal or inverted bounds are an error. */
  def validate(start: LocalDateTime, end: LocalDateTime): Unit =
    require(end.isAfter(start),
      s"'end' debe ser mayor que 'start' (start=$start, end=$end)")

  private def truncToSecond(t: LocalDateTime): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(t.withNano(0))

  /** The query's one spelling, unordered: validation, projection and
    * the inclusive second-truncated interval, with each bound turned
    * into a Column by `bind` — `lit` for a literal the optimizer can
    * push down, [[BoundParam]] for a reusable prepared plan.
    */
  private def interval(table: DataFrame, start: LocalDateTime, end: LocalDateTime,
                       bind: java.sql.Timestamp => Column): DataFrame = {
    validate(start, end)
    table
      .select(col("fechahora"), col("valor").cast("double").as("valor"))
      .filter(col("fechahora").between(
        bind(truncToSecond(start)), bind(truncToSecond(end))))
  }

  /** The query as a pure DataFrame transform over any (fechahora, valor)
    * table.
    *
    * The bounds stay LITERALS here, unlike [[serve]]: literals are what
    * data sources can take — the JDBC leg pushes them into the remote
    * WHERE (JdbcSpec), [[overPartitioned]] derives partition pruning
    * from them, and parquet skips row groups on them — and the
    * registry's `dolar_e2e_*` rows are planned once each, so plan reuse
    * buys them nothing.
    */
  def over(table: DataFrame, start: LocalDateTime, end: LocalDateTime): DataFrame =
    interval(table, start, end, lit(_)).orderBy(col("fechahora").asc)

  /** The query over a date-partitioned dolar layout
    * (DolarIngest.batchToPartitionedPath): identical row semantics, plus
    * p_date bounds derived from the interval so the scan prunes whole
    * day-partitions (PartitionFilters in the plan) — the 100 TB answer
    * to the reference's index-less full scan (main.py:69-74 over the
    * no-index DDL subirDB.py:72-77).
    */
  def overPartitioned(table: DataFrame, start: LocalDateTime,
                      end: LocalDateTime): DataFrame =
    over(table.filter(col("p_date").between(
      lit(java.sql.Date.valueOf(start.toLocalDate)),
      lit(java.sql.Date.valueOf(end.toLocalDate)))), start, end)

  /** A9 JDBC parity leg: the same query over a JDBC source, mirroring
    * the reference's SELECT through a relational connector
    * (/root/reference/main.py:39-53,69-74). The interval predicate
    * composes over the JDBC relation, so Spark pushes it into the
    * remote WHERE clause (JDBC filter pushdown) instead of scanning the
    * table — the serving-path behavior the reference gets from SQL.
    */
  def runJdbc(spark: SparkSession, url: String, start: LocalDateTime,
              end: LocalDateTime, table: String = "dolar"): DataFrame =
    over(spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load(), start, end)

  /** D1 + serving shape: (count, rows) like IntervalResponse
    * (main.py:86). The collect here IS the API response materialization —
    * interval responses are bounded by the interval, exactly as the
    * reference returns the full list.
    *
    * A prepared query, like the reference's parameterized SELECT
    * (main.py:69-81, bounds bound per request): the bounds are
    * [[BoundParam]]s, not literals, so every interval runs the same
    * generated code — no janino compile and no cold JIT per request.
    * The plan is one collect job: the rows are interval-bounded, so
    * they are ordered here on the driver instead of by a Spark sort
    * (which adds a range-sampling job and a shuffle). The order is a
    * stable sort on (fechahora, valor) — total and deterministic, where
    * both MySQL's `ORDER BY fechahora` and a Spark sort leave the order
    * of equal timestamps unspecified; it is the tie order the oracle
    * comparison uses (SURVEY C1).
    */
  def serve(spark: SparkSession, start: LocalDateTime, end: LocalDateTime,
            table: String = "dolar"): Result = {
    val rows = interval(spark.table(table), start, end, BoundParam(_)).collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1)))
      .sorted(ServeOrder)
    Result(rows.length.toLong, rows)
  }

  private val ServeOrder: Ordering[(java.sql.Timestamp, Double)] =
    Ordering.Tuple2(Ordering.fromLessThan[java.sql.Timestamp](_.before(_)),
      Ordering.Double.TotalOrdering)

  /** F2: the reference's output formatting (`%Y-%m-%d %H:%M:%S`). */
  def formatted(df: DataFrame): DataFrame =
    df.select(date_format(col("fechahora"), "yyyy-MM-dd HH:mm:ss").as("fechahora"),
      col("valor"))
}
