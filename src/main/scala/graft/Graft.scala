package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-level knobs for the engine, read lazily per call site so a
  * conf change takes effect without rebuilding query objects.
  */
object Graft {

  /** When "true", [[materialize]] uses RELIABLE `checkpoint()` (HDFS/
    * object-store durable, requires `sparkContext.setCheckpointDir`);
    * default "false" uses `localCheckpoint()` (non-replicated executor
    * storage — cheapest, but a lost executor forces recompute).
    */
  val CheckpointReliableKey = "spark.graft.checkpoint.reliable"

  /** Cut a DataFrame's lineage and materialize it once, so every
    * downstream leg reuses the computed rows instead of re-running the
    * build (the duplicated-subtree hazard GraphQueries documents:
    * 94 Exchanges vs 22 for the triangle edge build without this).
    *
    * The durability trade is a deployment decision, not a query-shape
    * one, so it lives in session conf ([[CheckpointReliableKey]]):
    * local mode / short jobs take `localCheckpoint`; a long iterative
    * job on preemptible executors sets the conf and a checkpoint dir
    * and gets reliable `checkpoint` at every materialization point in
    * the engine (pagerank + triangle adjacency builds, perplexity's
    * gram counts, dedup label propagation) with no code change.
    *
    * `eager = true` for both spellings: the caller is about to fan out
    * multiple consumers, so deferring the materialization would let the
    * first consumer race the others into recomputing.
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(CheckpointReliableKey, "false").toBoolean)
      df.checkpoint()
    else df.localCheckpoint()

  /** [[materialize]] that survives AS A PARTITIONED relation: the frame
    * is hash-repartitioned on `keys` into the session's
    * `spark.sql.shuffle.partitions` (explicit n — AQE cannot re-coalesce
    * a user-numbered repartition), checkpointed, and the resulting
    * relation re-declares `HashPartitioning(keys, n)` via
    * [[org.apache.spark.sql.graftbridge.PartitioningBridge]].
    * Needed because under AQE `localCheckpoint()` records
    * `UnknownPartitioning` even when the physical layout is a fresh
    * hash exchange, so every downstream join keyed on `keys` would
    * re-exchange the materialized table — per ITERATION, for the
    * Pregel-style loops (measured r17 on pagerank: three identical
    * 1.17 M-row adjacency shuffles, ~17 s task CPU each, all deleted by
    * this declaration). The declared partitioning is made true by
    * construction here — never call the bridge on a frame whose rows
    * were not laid out by exactly this repartition.
    *
    * The count is the session's on purpose, one for every site. A
    * data-derived count was built and A/B-measured and LOST on the 10×
    * corpus at local[32] (OPTIMIZATION_r18.md §3: graph_sssp 6.67 s at
    * 32 parts vs 10.46 s derived, graph_adamic_adar_partitioned 21.53
    * vs 24.48 s): a declared count ≠ the session count forces
    * EnsureRequirements to re-exchange the OTHER side of every iterate
    * join, and raising the session count too only adds task-wave
    * overhead once nothing spills. On a fixed-core host, partitions =
    * cores wins; on a real cluster you size the SESSION conf to the
    * fleet and this follows it. PlanAuditSpec pins the graph rows'
    * exchange counts that a different count would move.
    */
  def materializeHashed(df: DataFrame, keys: String*): DataFrame = {
    val nParts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ck = materialize(df.repartition(nParts, keys.map(col): _*))
    org.apache.spark.sql.graftbridge.PartitioningBridge
      .declareHashPartitioning(ck, keys, nParts)
  }

  /** Run independent Spark jobs from one driver thread each, so each
    * job's straggler tail back-fills with the next job's tasks instead
    * of leaving executors idle (optimization-guide §2.6) — the shared
    * spelling of `GraphQueries.warmEdgeCaches` / `Relational.customerRfm`'s
    * concurrent builds. Rethrows the FIRST failure with every other
    * concurrent failure attached as a suppressed exception, so a
    * multi-job crash keeps all of its diagnostics.
    *
    * Failure is bounded: every worker thread tags its jobs with one
    * call-unique job tag, and the first failure cancels all jobs under
    * it, so a crashed leg does not wait for its siblings to run to
    * completion. The tag is re-cancelled while siblings are still
    * alive, which also stops a job a sibling starts after the failure.
    * Tags sit beside the job group the threads inherit from the caller,
    * so group-based attribution and cancellation still apply.
    */
  def parallelJobs(spark: SparkSession, jobs: Seq[() => Unit]): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
    def cancelSiblings(): Unit = sc.cancelJobsWithTag(tag, "a sibling parallel job failed")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = jobs.map { j =>
      val t = new Thread(() =>
        try { sc.addJobTag(tag); j() }
        catch { case e: Throwable => val _ = errs.add(e); cancelSiblings() })
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach { t =>
      while (t.isAlive) {
        t.join(100)
        if (!errs.isEmpty) cancelSiblings()
      }
    }
    if (!errs.isEmpty) {
      val it = errs.iterator()
      val first = it.next()
      while (it.hasNext) first.addSuppressed(it.next())
      throw first
    }
  }

  /** Unsigned UTF-8 byte ordering of strings — Spark's UTF8String
    * binary order, i.e. the order `repartitionByRange` gives a string
    * key. Every DRIVER-side sort that must replay a range partition's
    * block order (the grouped-[[rankedByRange]] offset pattern:
    * `Relational.quantilesExact`, `TextQueries.ccnetBuckets`) uses
    * this, NOT Scala's default UTF-16 String ordering — identical for
    * ASCII keys, whole-block rank shifts on a non-ASCII key.
    */
  val utf8Order: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Exact global dense row ranks (1-based, column `i`) WITHOUT a
    * single-partition window — the two-pass range-partitioned rank the
    * decile/gini/eq-depth docstrings promised as the 100 TB evolution
    * path, now the actual spelling:
    *
    *   1. `repartitionByRange` on the sort key spreads the total order
    *      across `nParts` range partitions (RangePartitioner samples
    *      boundaries; rows never cross a boundary out of key order),
    *      then `sortWithinPartitions` orders each partition locally —
    *      a narrow sort, no further exchange;
    *   2. `monotonically_increasing_id`, projected ABOVE that sort and
    *      pinned by the checkpoint, encodes (partition id << 33 |
    *      row-ordinal-in-iteration-order) — so pid and the 1-based
    *      local rank are bit-field reads of one stored long. (The
    *      first spelling ranked locally with a window PARTITIONED on
    *      the pid, which Catalyst satisfies with a full hash exchange
    *      on graft_pid — RangePartitioning(sortCols) doesn't imply
    *      HashPartitioning(pid) — plus a second local sort. The id
    *      spelling deletes that whole exchange+sort: the r9 BENCHNOTES
    *      cost accounting charged rankedByRange one shuffle too few.)
    *   3. partition row-counts (an `nParts`-row driver aggregate —
    *      metadata-sized at any scale) become cumulative offsets,
    *      broadcast-joined back on the partition id.
    *
    * The final rank `i = local + offset` is EXACTLY the global
    * `row_number() OVER (ORDER BY sortCols)`: ranks are defined by the
    * total order alone, so sampled boundary placement cannot change
    * them — callers MUST pass a tie-free key list (append a unique id
    * column as the last sort key, the same discipline the global
    * windows used). Output = input columns + `i` (long).
    *
    * Capacity bound (inherited from `monotonically_increasing_id`'s
    * layout): the local ordinal lives in the low 33 bits, so each
    * RANGE PARTITION must hold < 2^33 (~8.6 B) rows — size `nParts`
    * so partitions stay under that (and far under it for memory's
    * sake: at 100 TB you want thousands of range partitions anyway,
    * which the `spark.sql.shuffle.partitions`-driven default gives).
    */
  def rankedByRange(df: DataFrame, sortCols: Column*): DataFrame =
    rankedByRange(df,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      sortCols: _*)

  def rankedByRange(df: DataFrame, nParts: Int, sortCols: Column*): DataFrame = {
    // the 1-based local rank is the id's low 33 bits
    val local = col("graft_mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L)
    val (parted, withPid, offsets) =
      rangeBlocks(df, nParts, sortCols, Seq("graft_local" -> local), Nil)
    if (offsets.isEmpty)
      return parted.drop("graft_mid").withColumn("i", lit(0L))
    val offDf = df.sparkSession.createDataFrame(
      offsets.map { case (pid, off) => (pid, off.head) })
      .toDF("graft_pid", "graft_off")
    withPid
      .join(broadcast(offDf), Seq("graft_pid"))
      .withColumn("i", col("graft_local") + col("graft_off"))
      .drop("graft_pid", "graft_local", "graft_off", "graft_mid")
  }

  /** The steps [[rankedByRange]] and [[cumSumByRange]] share (its
    * steps 1–3): range partition, local sort, the id `graft_mid` tagged
    * above the sort and pinned by the checkpoint, the decoded
    * `graft_pid` (then the `extra` columns), and one driver aggregate
    * per pid of the row count and of each `sums` input (paired with the
    * caller's name for it). Returns the checkpointed frame, the tagged
    * frame and, per non-empty pid ascending, the EXCLUSIVE running
    * totals of the count and of every sum over the pids before it.
    */
  private def rangeBlocks(df: DataFrame, nParts: Int, sortCols: Seq[Column],
                          extra: Seq[(String, Column)],
                          sums: Seq[(String, String)])
      : (DataFrame, DataFrame, Seq[(Int, Seq[Long])]) = {
    val parted = materialize(
      df.repartitionByRange(nParts, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .withColumn("graft_mid", monotonically_increasing_id()))
    val withPid = extra.foldLeft(parted
      .withColumn("graft_pid", shiftright(col("graft_mid"), 33).cast("int"))) {
      case (d, (nm, c)) => d.withColumn(nm, c)
    }
    val rows = withPid.groupBy(col("graft_pid"))
      .agg(count(lit(1)).as("graft_c"),
        sums.map { case (in, _) => sum(col(in)).as(in) }: _*)
      .collect()
    // fail FAST on the documented capacity bound instead of silently
    // corrupting the offsets: a partition at >= 2^33 rows bleeds its
    // ordinal into the pid bits (overflow rows decode as pid+1), so the
    // per-decoded-pid counts are the loud signal — free, already here
    val over = rows.filter(_.getLong(1) >= (1L << 33))
    require(over.isEmpty,
      s"a range partition holds >= 2^33 rows (pid -> rows: " +
        s"${over.map(r => s"${r.getInt(0)} -> ${r.getLong(1)}").mkString(", ")}); " +
        "raise the range partition count (spark.sql.shuffle.partitions " +
        "unless nParts is given)")
    // LongType caller contract, enforced loudly: a NULL in any sum
    // input nulls that partition's total and the getLong below would
    // throw an opaque NPE — name the offending column instead
    for (r <- rows; ix <- sums.indices if r.isNullAt(2 + ix))
      throw new IllegalArgumentException(
        s"cumSumByRange: sum input '${sums(ix)._2}' is NULL somewhere in " +
          s"range partition ${r.getInt(0)} — coalesce NULLs to 0L (or " +
          "filter them) before calling; prefix sums over NULL are " +
          "undefined under this helper's LongType contract")
    val totals = rows.toSeq
      .map(r => r.getInt(0) -> (0 to sums.size).map(ix => r.getLong(1 + ix)))
      .sortBy(_._1)
    val offsets = totals.scanLeft(Seq.fill(sums.size + 1)(0L)) {
      case (acc, (_, ts)) => acc.zip(ts).map { case (a, t) => a + t }
    }
    (parted, withPid, totals.map(_._1).zip(offsets))
  }

  /** Exact NTILE(`k`) bucket from a global 1-based rank — the SQL
    * ntile contract both engines share: n rows split into k tiles,
    * the first n%k tiles one row larger. Lets [[rankedByRange]]
    * replace `ntile(k) OVER (ORDER BY …)` — the single-partition
    * global-sort spelling — for any growing input: rank two-pass,
    * then this pure integer expression. `iCol`/`nCol` name a rank
    * column and a total-row-count column already in scope (CASE
    * laziness keeps the q=0 branch unreachable when n < k, so the
    * integer division is total). Column names are backtick-quoted on
    * interpolation, so non-identifier names (dots, spaces, keywords)
    * parse as plain column references instead of breaking the SQL or
    * resolving to the wrong expression.
    */
  def ntileFromRank(k: Int, iCol: String = "i",
                    nCol: String = "graft_n"): Column = {
    def q(name: String): String = "`" + name.replace("`", "``") + "`"
    val i = q(iCol); val n = q(nCol)
    expr(s"""case
      | when $i <= ($n % $k) * (($n div $k) + 1)
      |   then ($i - 1) div (($n div $k) + 1) + 1
      | else ($n % $k)
      |   + ($i - ($n % $k) * (($n div $k) + 1) - 1)
      |     div ($n div $k) + 1
      |end""".stripMargin)
  }

  /** Exact INCLUSIVE prefix sums of LONG expressions over a global
    * total order, without a single-partition window — the cumulative
    * sibling of [[rankedByRange]] for the running-CDF family (KS,
    * Mann–Whitney):
    *
    *   1. range-partition + local sort, checkpoint (as rankedByRange);
    *   2. per-partition TOTALS of each sum input (an `nParts`-row
    *      driver aggregate) become cumulative offsets;
    *   3. the LOCAL running sum is a window PARTITIONED BY the
    *      partition id — Catalyst satisfies it with one pid-keyed
    *      exchange + local sort. That exchange is honest cost this
    *      helper accepts: it is partition-PARALLEL (32 reducers, each
    *      holding one range), never the one-partition funnel of
    *      `sum OVER (ORDER BY …)`, and unlike the rank case a running
    *      sum cannot be read off the row id.
    *
    * Result = input columns + one long column per (expr, name) pair,
    * each EXACTLY `sum(expr) OVER (ORDER BY sortCols ROWS UNBOUNDED
    * PRECEDING)`. Callers MUST pass tie-free sortCols and LongType
    * sum inputs (the offset pass reads them as longs).
    */
  def cumSumByRange(df: DataFrame, sortCols: Seq[Column],
                    sums: Seq[(Column, String)]): DataFrame = {
    val nParts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val inNames = sums.indices.map(ix => s"graft_s$ix")
    val pre = sums.zip(inNames).foldLeft(df) {
      case (d, ((c, _), nm)) => d.withColumn(nm, c)
    }
    val (parted, withPid, offsets) =
      rangeBlocks(pre, nParts, sortCols, Nil, inNames.zip(sums.map(_._2)))
    if (offsets.isEmpty)
      return sums.foldLeft(parted.drop("graft_mid")) {
        case (d, (_, nm)) => d.withColumn(nm, lit(0L))
      }.drop(inNames: _*)
    val offDf = df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(offsets.map {
        case (pid, off) => org.apache.spark.sql.Row.fromSeq(pid +: off.tail)
      }, 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("graft_pid",
          org.apache.spark.sql.types.IntegerType, nullable = false) +:
          inNames.indices.map(ix => org.apache.spark.sql.types.StructField(
            s"graft_off$ix", org.apache.spark.sql.types.LongType,
            nullable = false))))
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("graft_pid")).orderBy(sortCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val joined = withPid.join(broadcast(offDf), Seq("graft_pid"))
    val withCums = sums.zipWithIndex.foldLeft(joined) {
      case (d, ((_, nm), ix)) =>
        d.withColumn(nm,
          sum(col(inNames(ix))).over(wLoc) + col(s"graft_off$ix"))
    }
    withCums.drop("graft_pid", "graft_mid")
      .drop(inNames: _*)
      .drop(inNames.indices.map(ix => s"graft_off$ix"): _*)
  }
}
