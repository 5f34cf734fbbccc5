package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Salted shuffle join — the skew leg of the engine's scale posture.
  *
  * A shuffled equi-join hashes every row of both sides by the join key,
  * so one hot key (a power user, a default value, a null-surrogate)
  * lands its entire volume on ONE reducer: at 100 TB a single straggler
  * partition holds the whole job hostage. Salting spreads each key over
  * `salts` shuffle partitions: the big side appends a deterministic
  * per-row salt in [0, salts), the small side replicates each row once
  * per salt value, and the join runs on (key, salt). Each big row
  * matches exactly the one replica of each small match that carries its
  * own salt, so the result is row-identical to the unsalted join — the
  * driver's oracle checks the salted query against the PLAIN SQL join.
  *
  * Complements (not replaces) AQE's skew-join splitting
  * (spark.sql.adaptive.skewJoin.*, on by default): AQE can only split a
  * skewed partition when it reads the finished shuffle output, and only
  * for sort-merge/shuffled-hash joins it planned itself; salting also
  * relieves the map-side combine of a following aggregation and works
  * under forced join strategies. Use AQE first; salt when a key is so
  * hot that even one map task's output for it is oversized, or when the
  * skew is in a groupBy (salt → partial agg → de-salt → final agg).
  *
  * The reference (sabogal9988/parcial-BigData) joins nothing — one
  * table, one query (/root/reference/main.py:69-74); this is declared
  * extended surface (SURVEY.md §2.E).
  */
object SkewJoin {

  /** Inner equi-join of `big` ⋈ `small` on `key`, with `big`'s rows
    * spread over `salts` sub-keys. `saltOf` must be a deterministic
    * per-row expression over `big`'s columns (any value works for
    * correctness — each row just needs ONE salt — but an even spread,
    * e.g. hash of a unique id, is what actually balances partitions).
    * The merge hint pins a shuffled sort-merge join: a broadcast join
    * has no shuffle to skew, and letting the planner broadcast the
    * replicated small side would silently turn the demo into one.
    */
  def saltedEquiJoin(big: DataFrame, small: DataFrame, key: String,
                     salts: Int, saltOf: Column): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val bigS = big.withColumn("__salt", pmod(hash(saltOf), lit(salts)))
    val smallS = small.withColumn(
      "__salt", explode(array((0 until salts).map(lit): _*)))
    bigS.hint("merge").join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** Registered-query leg: orders (fact) ⋈ customer (dim) on custkey,
    * salted 8 ways, per-market-segment order counts and spend. The
    * driver test data is uniform, so this demonstrates and
    * correctness-checks the rewrite (vs the plain-join oracle) rather
    * than a measured speedup; SkewJoinSpec additionally plants a
    * 90%-hot key and asserts the salted shuffle splits it.
    */
  def skewJoinDemo(s: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"))
    val c = graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    saltedEquiJoin(o, c, "custkey", salts = 8,
        saltOf = col("o_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  val skewJoinDemoSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
}
