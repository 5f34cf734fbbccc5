package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (SCALECHECK, r16 verdict item 1): materialize an N× replica
  * of the driver test tables so the repo's 100×-scale claims can be
  * MEASURED instead of plan-read. Usage:
  *
  *   runMain graft.ScaleGen <srcSfDir> <destDir> <factor>
  *
  * Construction, chosen so each query family's WORKLOAD SHAPE scales the
  * way a genuinely larger corpus would (fact mass ×N, bounded grids
  * unchanged) rather than degenerating into an adversarial duplicate
  * pile:
  *
  *  - `region`/`nation` are fixed-cardinality dimensions — copied as-is
  *    (a 100 TB deployment still has 25 nations).
  *  - TPC-H tables replicate with per-copy KEY OFFSETS (custkey,
  *    orderkey, partkey, suppkey, event ids...), preserving every FK
  *    join's fan-out: copy k's orders reference copy k's customers, so
  *    join cardinalities scale ×N, never ×N².
  *  - `events` keeps its timestamps — the calendar-day grid the ts_*
  *    family folds to must NOT grow, because the whole bounded-grid
  *    scale argument is that it doesn't. user/event ids offset per copy.
  *  - `documents` prefixes every word with a per-copy tag `c<k>·` for
  *    k > 0: word counts, lengths and language labels scale cleanly,
  *    but shingles/vocab across copies are disjoint, so the planted
  *    near-dup pair structure scales ×N (replicating identical texts
  *    would instead square the intra-pile pair counts — a different,
  *    adversarial corpus, not a scale-up of this one).
  *  - `embeddings` applies a per-copy deterministic SIGN PATTERN to the
  *    dimensions (copy 0 pristine): an isometry within each copy, so
  *    per-copy near-dup/centroid geometry is preserved and true-pair
  *    counts scale ×N, while cross-copy cosines decorrelate instead of
  *    landing exactly on 1.0. Norm statistics are untouched.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorS) = args
    val n = factorS.toInt
    val spark = Sessions.local(cacheEdges = false)

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(k => f(df, k)).reduce(_ unionAll _)

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scalegen] $name x$n written")
    }

    // fixed dims: byte-identical copy
    for (t <- Seq("region", "nation"))
      write(Tables.load(spark, src, t), s"$t")

    val cust = Tables.load(spark, src, "customer")
    val ords = Tables.load(spark, src, "orders")
    val part = Tables.load(spark, src, "part")
    val supp = Tables.load(spark, src, "supplier")
    val li = Tables.load(spark, src, "lineitem")
    val (mc, mo, mp, ms) = (maxOf(cust, "c_custkey"), maxOf(ords, "o_orderkey"),
      maxOf(part, "p_partkey"), maxOf(supp, "s_suppkey"))

    write(copies(cust) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * mc)) }, "customer")
    write(copies(supp) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * ms)) }, "supplier")
    write(copies(part) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * mp)) }, "part")
    write(copies(ords) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * mo))
        .withColumn("o_custkey", col("o_custkey") + lit(k * mc)) }, "orders")
    write(copies(li) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * mo))
        .withColumn("l_partkey", col("l_partkey") + lit(k * mp))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * ms)) }, "lineitem")

    // events: canonical micros timestamps out (Tables.events handles both
    // encodings in; writing canonical keeps the replica generation-proof)
    val ev = Tables.events(spark, src)
    val (me, mu) = (maxOf(ev, "event_id"), maxOf(ev, "user_id"))
    write(copies(ev) { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * me))
        .withColumn("user_id", col("user_id") + lit(k * mu)) }, "events")

    val docs = Tables.load(spark, src, "documents")
    val md = maxOf(docs, "doc_id")
    write(copies(docs) { (d, k) =>
      val tagged = if (k == 0) col("text")
        else concat(lit(s"c$k"), regexp_replace(col("text"), lit(" "), lit(s" c$k")))
      d.withColumn("doc_id", col("doc_id") + lit(k * md))
        .withColumn("text", tagged)
        .withColumn("n_chars", length(tagged).cast("long")) }, "documents")

    val emb = Tables.load(spark, src, "embeddings")
    val mv = maxOf(emb, "vec_id")
    write(copies(emb) { (d, k) =>
      val flipped = if (k == 0) col("embedding")
        else expr(s"transform(embedding, (x, i) -> " +
          s"CASE WHEN pmod(shiftright($k * 2654435761L, i % 31), 2L) = 0 " +
          s"THEN x ELSE -x END)")
      d.withColumn("vec_id", col("vec_id") + lit(k * mv))
        .withColumn("embedding", flipped) }, "embeddings")

    spark.stop()
  }
}
