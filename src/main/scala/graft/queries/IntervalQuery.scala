package graft.queries

import java.time.LocalDateTime
import graft.Tables
import graft.functions.BoundParam
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
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
    * (main.py:86), the rows ordered by (fechahora, valor) — total and
    * deterministic, where both MySQL's `ORDER BY fechahora` and a Spark
    * sort leave the order of equal timestamps unspecified; it is the tie
    * order the oracle comparison uses (SURVEY C1).
    *
    * Served from a driver-side snapshot of the table: two primitive
    * arrays (fechahora as epoch micros, valor as double) in that order.
    * A request is two binary searches and a slice and starts no Spark
    * job. The snapshot is keyed on the session (held weakly), `table`
    * and the file listing of the table's location, the validity key
    * `Tables` uses for schemas:
    *
    *  - every request looks the table up in the session catalog (one
    *    metadata read, no analysis) and lists its files; a changed
    *    listing rebuilds the snapshot before the request is answered,
    *    so any writer that adds, rewrites or removes files (a batch
    *    load, SQL INSERT, DROP and re-create) is visible to the next
    *    request after its write returns, and no ingest hook is needed;
    *  - the files are listed before they are read, so a write racing a
    *    build costs one more rebuild, never a stale snapshot;
    *  - a build is one collect of `unix_micros(fechahora)` and
    *    `valor` cast to double (the values `over` returns, bit for bit),
    *    sorted once; rows with a null fechahora are dropped, as the
    *    interval never matches them. One build runs per (session,
    *    table) at a time; concurrent requests wait for it and reuse it;
    *  - a dropped or missing table raises, as it did before.
    *
    * The prepared plan serves instead, one collect job per request with
    * the bounds as [[BoundParam]]s (every interval runs the same
    * generated code, no janino compile per request), when the table is
    * not a plain catalog table with a location (a view, a partitioned
    * table, whose visible files the catalog decides), when its listing
    * holds more than `SnapshotCap` rows (2^20, 16 MB of arrays; the
    * build reads at most one row more), or when it holds a null valor
    * (which the response cannot carry; the prepared plan fails on it,
    * when the interval covers it, as before). The last two are logged
    * once at WARN per listing.
    */
  def serve(spark: SparkSession, start: LocalDateTime, end: LocalDateTime,
            table: String = "dolar"): Result = {
    validate(start, end)
    snapshotOf(spark, table) match {
      case Some(s) => s.slice(truncToSecond(start), truncToSecond(end))
      case None => prepared(spark, start, end, table)
    }
  }

  private def prepared(spark: SparkSession, start: LocalDateTime, end: LocalDateTime,
                       table: String): Result = {
    val rows = interval(spark.table(table), start, end, BoundParam(_)).collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1)))
      .sorted(ServeOrder)
    Result(rows.length.toLong, rows)
  }

  private val ServeOrder: Ordering[(java.sql.Timestamp, Double)] =
    Ordering.Tuple2(Ordering.fromLessThan[java.sql.Timestamp](_.before(_)),
      Ordering.Double.TotalOrdering)

  /** The most rows a snapshot holds: 16 MB of arrays. */
  private val SnapshotCap = 1 << 20

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** What `serve` decided for one listing of a table: its snapshot, or
    * None where the prepared plan serves it.
    */
  private final case class Verdict(listing: Tables.Listing, snapshot: Option[Snapshot])

  /** A listing's rows, (micros, valor) in the serve order. */
  private final class Snapshot(micros: Array[Long], valor: Array[Double]) {
    /** The rows in [start, end], with the conversions `lit` and
      * `collect` apply: the bounds become micros as `Literal.create`
      * does, the rows become `Timestamp`s as Spark's collect does.
      */
    def slice(start: java.sql.Timestamp, end: java.sql.Timestamp): Result = {
      val from = firstAtLeast(DateTimeUtils.fromJavaTimestamp(start))
      val until = firstAtLeast(DateTimeUtils.fromJavaTimestamp(end) + 1)
      val rows = Array.tabulate(until - from) { i =>
        (DateTimeUtils.toJavaTimestamp(micros(from + i)), valor(from + i))
      }
      Result(rows.length.toLong, rows)
    }

    /** The first index whose micros is >= `t`, or the length. */
    private def firstAtLeast(t: Long): Int = {
      var lo = 0
      var hi = micros.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (micros(mid) < t) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Each (session, table)'s latest verdict; a build locks its slot. */
  private val slots = new java.util.WeakHashMap[SparkSession,
    java.util.HashMap[String, java.util.concurrent.atomic.AtomicReference[Verdict]]]()

  /** The snapshot of `table`'s current files (see [[serve]]); None when
    * the prepared plan serves it.
    */
  private def snapshotOf(spark: SparkSession, table: String): Option[Snapshot] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val meta = state.catalog.getTempViewOrPermanentTableMetadata(
      state.sqlParser.parseTableIdentifier(table))
    meta.storage.locationUri.filter(_ => meta.partitionColumnNames.isEmpty).flatMap { uri =>
      val path = new org.apache.hadoop.fs.Path(uri).toString
      val slot = slots.synchronized {
        slots.computeIfAbsent(spark, _ => new java.util.HashMap())
          .computeIfAbsent(table, _ => new java.util.concurrent.atomic.AtomicReference[Verdict]())
      }
      val listed = Tables.listingOf(spark, path)
      val seen = slot.get
      val verdict =
        if (seen != null && seen.listing == listed) seen
        else slot.synchronized {
          // listed again under the lock, so a request that waited for a
          // build reuses it rather than rebuilding for its older listing
          val now = Tables.listingOf(spark, path)
          val last = slot.get
          if (last != null && last.listing == now) last
          else { val v = build(spark, table, now); slot.set(v); v }
        }
      verdict.snapshot
    }
  }

  /** The verdict for `listing`, read after it was taken. */
  private def build(spark: SparkSession, table: String, listing: Tables.Listing): Verdict = {
    // the table's cached relation may still hold a file list older than
    // `listing` (a writer refreshes it only after its commit)
    spark.catalog.refreshTable(table)
    val rows = spark.table(table).where(col("fechahora").isNotNull)
      .select(unix_micros(col("fechahora")), col("valor").cast("double"))
      .limit(SnapshotCap + 1).collect()
    val overCap = rows.length > SnapshotCap
    if (overCap || rows.exists(_.isNullAt(1))) {
      log.warn(s"IntervalQuery.serve: $table holds " +
        (if (overCap) s"more than $SnapshotCap rows" else "a null valor") +
        "; each request runs the prepared plan (one Spark job) until its files change")
      Verdict(listing, None)
    } else {
      val pairs = rows.map(r => (r.getLong(0), r.getDouble(1)))
        .sorted(Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering))
      Verdict(listing, Some(new Snapshot(pairs.map(_._1), pairs.map(_._2))))
    }
  }

  /** F2: the reference's output formatting (`%Y-%m-%d %H:%M:%S`). */
  def formatted(df: DataFrame): DataFrame =
    df.select(date_format(col("fechahora"), "yyyy-MM-dd HH:mm:ss").as("fechahora"),
      col("valor"))
}
