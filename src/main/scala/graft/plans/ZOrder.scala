package graft.plans

import graft.functions.ZOrderKey
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — multi-dimensional clustering so
  * that file/partition min-max statistics prune scans on filters over
  * EITHER of two dimensions, not just the leading sort column. A table
  * sorted by `(a)` answers `a = ?` with one file but `b = ?` with all
  * of them; z-ordered by `(a, b)` both predicates prune to ~sqrt-sized
  * slices. The key itself is one codegen'd expression
  * ([[graft.functions.ZOrderKey]]); the layout is plain Spark
  * machinery: `repartitionByRange` on the key (one range exchange —
  * the same cost as any global sort-write) + in-partition sort, so the
  * write shuffles ONCE and every later scan benefits. ZOrderSpec
  * asserts the clustering property on the written layout: every
  * partition's span in BOTH dimensions is a small fraction of the
  * global span.
  */
object ZOrder {

  /** z-key column over two integer dims (each must fit 21 bits) */
  def zkey(x: Column, y: Column): Column =
    ZOrderKey(x.cast("long"), y.cast("long"))

  /** Write `df` clustered by the z-order of (xCol, yCol): range-
    * partition into `nFiles` z-ranges, sort within each, drop the
    * transient key. Each emitted file covers one z-range = one bounded
    * rectangle in (x, y).
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
                    nFiles: Int, path: String): Unit =
    df.withColumn("__zkey", zkey(col(xCol), col(yCol)))
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)

  /** Registered-query leg: the layout REPORT for z-ordering lineitem by
    * (l_partkey, l_suppkey) — rows are dealt into 32 equal z-key tiles
    * (ntile over the z-order, i.e. exactly the file boundaries
    * [[writeZOrdered]] would draw), and each tile reports its row count
    * and its min/max in BOTH dimensions. The point the report makes is
    * the z-order property itself: every tile is narrow in part-key AND
    * supp-key at once, so either predicate prunes ~31/32 of the data —
    * and because the report is pure arithmetic over the z-key, DuckDB
    * can replay the interleave bit-for-bit and hash-check it.
    *
    * Shape at scale: ntile needs a total order, but NOT a
    * single-partition window (`ntile OVER (ORDER BY zk)` funnels the
    * whole fact table through one task — the pre-r10 spelling's
    * docstring claimed a range exchange it never had). The spelling is
    * the two-pass range-partitioned rank ([[graft.Graft.rankedByRange]]
    * — the same shuffle the layout write itself pays) with the tile id
    * computed by the exact integer ntile formula
    * ([[graft.Graft.ntileFromRank]]) from the global rank and the
    * 1-row broadcast row count; the per-tile aggregation is
    * partial-combined.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        zkey(col("l_partkey"), col("l_suppkey")).as("zk"),
        col("l_orderkey"), col("l_linenumber"))
    val ranked = graft.Graft.rankedByRange(li,
      col("zk"), col("l_orderkey"), col("l_linenumber"))
    // row count off the rank pass's checkpoint — not a second
    // parquet scan of lineitem (r10 review finding)
    val nRow = ranked.agg(count(lit(1)).as("graft_n"))
    ranked
      .crossJoin(broadcast(nRow))
      .withColumn("tile", graft.Graft.ntileFromRank(32).cast("long"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
        min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
      .orderBy(col("tile"))
  }

  /** DuckDB replays the 21-bit interleave as plain bit arithmetic:
    * z = sum_i ((x>>i & 1) << 2i) + ((y>>i & 1) << (2i+1)).
    */
  val zorderLayoutSql: String =
    """WITH z AS (
      |  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
      |    list_sum(list_transform(range(0, 21), i ->
      |      (((l_partkey >> i) & 1) << (2*i))
      |      + (((l_suppkey >> i) & 1) << (2*i + 1)))) AS zk
      |  FROM lineitem),
      |t AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(ntile(32) OVER (ORDER BY zk, l_orderkey, l_linenumber) AS BIGINT) AS tile
      |  FROM z)
      |SELECT tile, COUNT(*) AS n,
      | MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
      | MIN(l_suppkey) AS sk_min, MAX(l_suppkey) AS sk_max
      |FROM t GROUP BY tile ORDER BY tile""".stripMargin
}
