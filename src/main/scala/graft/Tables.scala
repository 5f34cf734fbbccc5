package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver test tables (TESTDATA.md): one parquet per
  * table under the given scale-factor directory.
  *
  * All query builders in this repo take `(SparkSession, sfDir)` and go
  * through here, so scan-level concerns (nanosecond-timestamp handling,
  * future bucketing/partitioning of the test tables) live in one place.
  *
  * Contract of [[load]]:
  *
  *  - What is cached: only a table's `StructType`, as Spark's own
  *    parquet schema inference returned it on the first open. Rows,
  *    the file index and plans are never cached: every open lists the
  *    table's files again and every action scans parquet.
  *  - The key: the session (held weakly, so a dropped session frees its
  *    entries), the table path, and a listing signature of every leaf
  *    file's (path, length, modification time). A rewritten, appended
  *    or deleted file changes the signature and re-infers; one entry is
  *    kept per (session, path).
  *  - The saving: inference is a Spark job (a footer read) and runs on
  *    a table's first open and after its listing changed; every other
  *    open is `spark.read.schema(cached)`, which runs no job.
  *  - Inference depends on the session's parquet-read confs
  *    (`spark.sql.legacy.parquet.nanosAsLong`, binary-as-string, ...).
  *    They are set once by the session owner ([[Sessions.local]] for
  *    the mains, the test and benchmark-harness builders); a query
  *    builder must not mutate them on a live session, or a cached
  *    schema would disagree with a fresh one.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private[graft] type Listing = Seq[(String, Long, Long)]

  private val schemas =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[String, (Listing, StructType)]]()

  /** The inferred schema of the parquet table at `path`, re-inferred
    * whenever the table's file listing differs from the cached one.
    * Listed before inference, so a file that changes in between makes
    * the next open re-infer rather than keep a stale schema.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val listing = listingOf(spark, path)
    val cached = schemas.synchronized {
      Option(schemas.get(spark)).flatMap(m => Option(m.get(path)))
    }
    cached.collect { case (l, st) if l == listing => st }.getOrElse {
      val st = spark.read.parquet(path).schema
      schemas.synchronized {
        val _ = schemas.computeIfAbsent(spark, _ => new java.util.HashMap()).put(path, (listing, st))
      }
      st
    }
  }

  /** Every leaf file under `path` (or `path` itself) as (path, length,
    * modification time), sorted; empty when `path` does not exist, so
    * inference raises Spark's own PATH_NOT_FOUND. Also the validity key
    * of `IntervalQuery.serve`'s snapshot.
    */
  private[graft] def listingOf(spark: SparkSession, path: String): Listing = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a located status copies each file's
    // permissions, which the local file system reads by forking a shell
    // per file without the native Hadoop library (~5 ms a file)
    def leaves(p: org.apache.hadoop.fs.Path): Listing = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) leaves(f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    try leaves(root).sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Format-portable source/sink leg: the driver tables are parquet, but
    * the engine reads and writes any Spark-native columnar/text format
    * the classpath carries (parquet, orc, json, csv). Text formats get
    * an explicit schema on read — csv/json carry none (csv also needs
    * its header) — so a round trip is type-identical, not just
    * value-identical. SourceFormatsSpec round-trips the test tables
    * through each format and asserts set equality.
    */
  def writeAs(df: DataFrame, format: String, path: String): Unit = {
    val w = df.write.mode("overwrite").format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  def readAs(spark: SparkSession, format: String, path: String,
             schema: StructType): DataFrame = {
    val r = spark.read.format(format).schema(schema)
    (if (format == "csv") r.option("header", "true") else r).load(path)
  }

  /** The events table's `ts` has shipped in two physical encodings
    * across driver testdata generations, so the reader adapts to what
    * the file actually carries instead of assuming one:
    *
    *  - TIMESTAMP(NANOS), which Spark 4.1 refuses to read as a
    *    timestamp ([PARQUET_TYPE_ILLEGAL]): with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` on the session
    *    (set once by the session owner — [[Sessions.local]], the test
    *    and harness builders all do; a query builder must not mutate
    *    session conf)
    *    the column arrives as a nanos-since-epoch LONG and is floored
    *    to microseconds — `timestamp_micros(ns div 1000)` — matching
    *    DuckDB's `ts::TIMESTAMP` truncation bit-for-bit (verified
    *    empirically).
    *  - TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
    *    TIMESTAMP_NTZ: cast to the session-local TIMESTAMP. The
    *    sessions here run in UTC, so the cast is instant-preserving
    *    and lands on the exact micros DuckDB reads natively.
    *
    * Either way downstream sees one canonical shape: `ts` as
    * microsecond-precision TIMESTAMP (LTZ) — the type every events
    * query, oracle hash, and spec in this repo was verified against.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    canonicalTs(load(spark, sfDir, "events"))

  /** The `ts` adaptation of [[events]], on any frame carrying the raw
    * column: batch here, streaming in `EventsStream.readStream`.
    */
  private[graft] def canonicalTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already session-local TIMESTAMP
    }
  }
}
