package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout helpers — the co-located-join leg of the
  * engine's scale posture. A fact table bucketed AND sorted by its join
  * key joins another table bucketed the same way with NO exchange on
  * either side (and no per-query sort): the shuffle is paid ONCE at
  * write time and amortized over every subsequent join — at 100 TB the
  * difference between re-shuffling the fact table per query and
  * scanning it in place. BucketedJoinSpec asserts the exchange-free
  * SortMergeJoin plan.
  *
  * (The driver's test tables are plain parquet files, so bucketing is
  * exercised via these helpers + spec rather than a registered query —
  * `Tables.load` cannot impose bucket metadata on files it doesn't
  * own.)
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted external table (path-backed so
    * callers control the storage location; the bucket metadata lives in
    * the session catalog).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Equi-join two same-bucketed tables on their bucket key. With equal
    * bucket counts Spark plans a SortMergeJoin with NO ShuffleExchange
    * on either side (the remaining Sort is partition-local — Spark only
    * trusts write-time ordering when every bucket is a single file).
    */
  def bucketedEquiJoin(spark: SparkSession, left: String, right: String,
                       key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Registered-query leg: build the bucketed layout from the test
    * tables in a tmp dir, then run the exchange-free join — per-nation
    * order counts and spend through a customer⋈orders co-located on
    * custkey. The bucketed write is billed to this query in Bench (like
    * the dolar e2e fixture); the RESULT is layout-independent, which is
    * what lets DuckDB oracle-check a physical-plan feature.
    */
  def bucketedJoinDemo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // per-dir table names: concurrent sessions/dirs must not collide in
    // the shared session catalog
    val tag = java.lang.Long.toHexString(
      org.apache.spark.unsafe.types.UTF8String.fromString(dir).hashCode().toLong & 0xffffffffL)
    val custT = s"graft_bkt_cust_$tag"
    val ordT = s"graft_bkt_ord_$tag"
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    writeBucketed(
      graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey")),
      custT, "custkey", 8, s"$tmp/cust")
    writeBucketed(
      graft.Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice")),
      ordT, "custkey", 8, s"$tmp/ord")
    bucketedEquiJoin(s, custT, ordT, "custkey")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_price"))
      .orderBy(col("c_nationkey"))
  }

  val bucketedJoinDemoSql: String =
    """SELECT c_nationkey, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
}
