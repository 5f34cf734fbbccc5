package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over `documents` — the
  * 100 TB-viable candidate-generation stage for fuzzy dedup.
  *
  * Pipeline (all codegen'd; no UDFs, no cross join):
  *   1. shingle: 3-gram word shingles per doc as sorted hashed longs
  *   2. minhash: P=64 permutations computed per doc by the codegen'd
  *      [[graft.functions.MinHashSignature]] expression — one narrow
  *      pass over the shingle array, NO explode and NO shuffle; at any
  *      scale the signature stage is a pure map over documents.
  *   3. band: 16 bands x 4 rows; band hash = xxhash64 of the 4 sig slots
  *   4. bucket join: posexplode (band, bucket) -> self-join on
  *      (band, bucket) carrying ONLY doc ids -> dropDuplicates(a,b).
  *      The shuffle payload is (band, bucket, id) — never the shingle
  *      sets — so exchange size is bands x ids, not bands x documents.
  *   5. verify: join the distinct candidate pairs back to the shingle
  *      sets (hash join on id) and compute exact Jaccard on candidates
  *      only.
  *
  * The all-pairs product is never materialized (asserted in DedupSpec by
  * checking the physical plan contains no CartesianProduct /
  * BroadcastNestedLoopJoin). Hashes are fixed-seed, so results are
  * deterministic across runs and cluster sizes.
  */
object MinHashDedup {

  val NumPerms = 64
  val Bands = 16
  val RowsPerBand: Int = NumPerms / Bands

  /** Default per-(band, bucket) head cap of [[nearDupPairs]] and its
    * audits: Spark's `spark.sql.optimizer.windowGroupLimitThreshold`
    * default, the largest cap that still plans as a map-side
    * `WindowGroupLimit`.
    */
  val MaxBucket = 1000

  /** Distinct 3-gram word shingles of a words column, hashed straight to
    * sorted 64-bit longs — the codegen'd
    * [[graft.functions.HashedShingles3]] expression (`xxhash64(w1, w2,
    * w3)` per position, no intermediate concatenated strings, no
    * higher-order functions — a HOF here knocks the whole projection
    * out of codegen and re-splits the document per lambda element
    * wherever the optimizer inlines it into a Filter).
    */
  def hashedShingles(ws: Column): Column = graft.functions.HashedShingles3(ws)

  /** (doc_id, sh) — the shingle set per doc as sorted 64-bit hashes:
    * integer merge-compare in the verify stage, 8 bytes per shingle on
    * the wire (Jaccard is unchanged w.h.p. — a collision within one
    * pair is ~2^-50 at these set sizes). Docs under 3 words (no
    * shingles) are dropped by a cheap word-count filter BEFORE hashing
    * — cheap because it never mentions the shingle column, so predicate
    * pushdown can't inline the shingling work into a Filter.
    */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), hashedShingles(col("ws")).as("sh"))

  /** One row per doc with `sig`: the 64-slot MinHash signature as an
    * `array<bigint>`, computed by the codegen'd
    * [[graft.functions.MinHashSignature]] expression in a single narrow
    * pass — NO explode, NO shuffle. (The earlier
    * `explode + groupBy(doc).agg(64 x min(xxhash64(p, s)))` formulation
    * generated an update method past the codegen/JIT limits and
    * degraded to interpreted eval — 650 s for 270 K shingles inside the
    * full-suite bench JVM; this plan is a pure map.)
    *
    * Docs with no shingles (< 3 words) are excluded by shingleSets,
    * matching the explode-based formulation (empty arrays explode to
    * zero rows).
    */
  def signatureCols(s: SparkSession, dir: String): DataFrame =
    shingleSets(s, dir)
      .select(col("doc_id"),
        graft.functions.MinHashSignature(col("sh"), NumPerms).as("sig"))

  /** 16 band hashes as an array column over the signature array */
  private def bandArray(sig: Column): Column =
    array((0 until Bands).map { b =>
      xxhash64((1 to RowsPerBand).map(r => element_at(sig, b * RowsPerBand + r)): _*)
    }: _*)

  /** exact Jaccard of two SORTED distinct-long array columns:
    * i / (|A| + |B| - i) with a codegen'd merge-scan intersection count.
    */
  def jaccard(a: Column, b: Column): Column = {
    val i = graft.functions.SortedLongIntersectSize(a, b).cast("double")
    i / (size(a) + size(b) - i)
  }

  /** Candidate pairs from LSH banding, verified with exact Jaccard.
    * Output: (a_id, b_id, jaccard) for pairs with jaccard >= minJaccard.
    *
    * Degenerate-corpus bound: a pile of near-identical documents
    * collapses into ONE (band, bucket), and an uncapped self-join
    * there goes quadratic in the pile size. Bucket membership is
    * therefore capped at `maxBucket` lowest-id docs per (band, bucket)
    * — the SemDeDup `maxCell` WindowGroupLimit discipline
    * ([[graft.queries.EmbeddingQueries.semDedupCandidates]]): the
    * rank filter pushes into the exchange as a map-side group limit.
    * Only the a-side is capped (the SemDeDup shape): per bucket the
    * candidate volume is O(maxBucket · |bucket|) instead of
    * |bucket|²; a capped pile still chains into one dup cluster
    * because every doc pairs with the pile's lowest-id heads across
    * 16 independent bands (recall on genuinely distinct near-dups is
    * untouched — real buckets are far below the cap). Set per call
    * by the `maxBucket` parameter; the default [[MaxBucket]] (1000)
    * sits AT Spark's `spark.sql.optimizer.windowGroupLimitThreshold` (also
    * 1000) — one notch higher and `InsertWindowGroupLimit` stops
    * firing, the rank filter runs only AFTER the full hot bucket has
    * shuffled, and the map-side bound silently disappears
    * (plan-pinned in DedupSpec: the physical plan must contain
    * WindowGroupLimit).
    *
    * RECALL CAVEAT (the cap's cost, not just its degenerate-pile
    * story): in any bucket larger than `maxBucket` — including a
    * LEGITIMATELY hot bucket on a real corpus — pairs between two
    * non-head members are dropped in that band, and if a pair's
    * every co-occurring bucket is over the cap, the pair is lost
    * entirely. Precision is untouched (every emitted pair still
    * passes exact-Jaccard verify); recall is what the cap trades.
    * The loss is OBSERVABLE, not silent: [[bucketOverflowAudit]]
    * lists every over-cap (band, bucket) with its dropped-member
    * count — empty audit ⇔ the cap changed nothing at the current
    * corpus/cap — and its registered spelling is [[bucketCensus]]
    * (`dedup_lsh_bucket_audit`), the never-empty top-20 census whose
    * equivalent check is `dropped_docs = 0` on every row.
    */
  def nearDupPairs(s: SparkSession, dir: String, minJaccard: Double = 0.2,
                   maxBucket: Int = MaxBucket): DataFrame = {
    // the map-side plan contract, enforced LOUDLY: InsertWindowGroupLimit
    // fires only while maxBucket <= windowGroupLimitThreshold (and the
    // threshold isn't -1 = rule disabled). One notch over and the cap
    // silently degrades to a post-shuffle filter — results identical,
    // scale posture gone (the whole hot bucket shuffles before the rank
    // filter runs). That footgun must fail fast, not pass quietly.
    val wglThreshold = s.conf
      .get("spark.sql.optimizer.windowGroupLimitThreshold", "1000").toInt
    require(wglThreshold >= 0 && maxBucket <= wglThreshold,
      s"nearDupPairs: maxBucket=$maxBucket exceeds " +
        s"spark.sql.optimizer.windowGroupLimitThreshold=$wglThreshold — " +
        "the map-side WindowGroupLimit cap would silently become a " +
        "post-shuffle filter; lower the cap or raise the threshold")
    val buckets0 = signatureCols(s, dir)
      .select(col("doc_id"), posexplode(bandArray(col("sig"))).as(Seq("band", "bucket")))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))
    val heads = buckets0
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= maxBucket) // WindowGroupLimit: map-side cap
      .drop("rk")
    val a = heads.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val b = buckets0.select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id") // a pair may share several bands
    val sets = shingleSets(s, dir)
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Registry spelling of `dedup_minhash_lsh` since r16 (the ANN-audit
    * pattern): the LSH pair SET is fixed-seed-hash-dependent and not
    * SQL-replayable, but its RECALL CONTRACT against the
    * oracle-checked exact leg is — the exact-Jaccard ≥ 0.8 pair set
    * (recomputed by DuckDB via the `dedup_ngram_jaccard` SQL, whose
    * pairs at this corpus are planted near-identicals where 16×4
    * banding misses with probability ≤ (1−s⁴)¹⁶ ≈ 1e-7) must be a
    * subset of the reported pairs (`missed_true_pairs` pinned 0), and
    * every reported pair carries an exact verified Jaccard ≥ the 0.5
    * report threshold (`below_threshold_reported` pinned 0, the
    * verify-stage contract). Those counters ride beside the exact
    * pair count and id checksum DuckDB recomputes; the pair list
    * itself stays the DedupSpec-pinned [[nearDupPairs]] API.
    */
  def nearDupPairsAudit(s: SparkSession, dir: String): DataFrame = {
    val lsh = nearDupPairs(s, dir, minJaccard = 0.5)
    val truePairs = graft.queries.TextQueries.dedupNgramJaccard(s, dir)
      .filter(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"))
    // coalesce: an empty frame's sum is NULL, but the contract
    // constant in the oracle is 0
    val lshAgg = lsh.agg(
      coalesce(sum(when(col("jaccard") < 0.5, 1L).otherwise(0L)), lit(0L))
        .as("below_threshold_reported"))
    truePairs
      .join(lsh.select(col("a_id"), col("b_id"), lit(1L).as("hit")),
        Seq("a_id", "b_id"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(col("a_id") + col("b_id")).as("true_pair_id_sum"),
        coalesce(sum(when(col("hit").isNull, 1L).otherwise(0L)), lit(0L))
          .as("missed_true_pairs"))
      .crossJoin(broadcast(lshAgg))
  }

  /** DuckDB twin of [[nearDupPairsAudit]]: the exact ≥ 0.8 pair set
    * from raw documents (same CTEs as the oracle-checked
    * `dedup_ngram_jaccard`), the recall/verify counters as contract
    * constants.
    */
  val nearDupPairsAuditSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
      |  CAST(SUM(a_id + b_id) AS BIGINT) AS true_pair_id_sum,
      |  CAST(0 AS BIGINT) AS missed_true_pairs,
      |  CAST(0 AS BIGINT) AS below_threshold_reported
      |FROM (${graft.queries.TextQueries.dedupNgramJaccardSql
               .replace("\n", "\n|  ")}) t
      |WHERE jaccard >= 0.8""".stripMargin

  /** Oversize-(band, bucket) census — [[nearDupPairs]]'s cap made
    * observable. One row per (band, bucket) whose membership exceeds
    * `maxBucket`: (band, bucket, bucket_size, dropped_docs), largest
    * first. `dropped_docs` = bucket_size − maxBucket is the number of
    * non-head members whose within-bucket pairs the cap suppressed in
    * that band. Empty result ⇔ the cap changed nothing — the
    * operational check a 100 TB dedup run logs BEFORE trusting its
    * recall (a few hot buckets here = localized recall loss; rerun
    * with a larger cap or pre-split the pile). Cost: one count
    * aggregation of the banded exploding scan — the same exchange
    * keys as the candidate join, with map-side partial counts.
    */
  def bucketOverflowAudit(s: SparkSession, dir: String,
                          maxBucket: Int = MaxBucket): DataFrame =
    bucketSizes(s, dir, maxBucket)
      .filter(col("bucket_size") > maxBucket)
      .orderBy(col("bucket_size").desc, col("band"), col("bucket"))

  /** The registered spelling (`dedup_lsh_bucket_audit`): top-`k`
    * largest (band, bucket) memberships with their over-cap drop
    * counts — never empty on a non-empty corpus, so the driver's
    * rows-only record stays meaningful. A healthy corpus shows its
    * largest buckets with `dropped_docs = 0`; any overflow sorts to
    * the top. Distributed top-k (TakeOrderedAndProject), never a
    * global sort.
    */
  def bucketCensus(s: SparkSession, dir: String, k: Int = 20,
                   maxBucket: Int = MaxBucket): DataFrame =
    bucketSizes(s, dir, maxBucket)
      .orderBy(col("bucket_size").desc, col("band"), col("bucket"))
      .limit(k)

  /** Structural-oracle audit of the LSH banding stage (registered as
    * `dedup_lsh_bucket_audit` since r15; the top-k census detail
    * stays the DedupSpec-pinned [[bucketCensus]] API): bucket IDs are
    * hash-derived, but banding CONSERVES membership — every signed
    * doc lands in exactly ONE bucket per band — so each band's total
    * membership equals the recomputable shingled-doc count, and at
    * the default cap a healthy corpus drops nothing. One row per
    * band: (band, n_memberships, dropped_docs_total) with the oracle
    * recomputing n_memberships from raw text and pinning drops to 0
    * (an over-cap pile IS observable recall loss — the gate turning
    * red here is the point).
    *
    * Scale: the banded explode is the candidate join's own exchange
    * (map-side partial counts); the audit folds it to 16 rows.
    */
  def bucketConservationAudit(s: SparkSession, dir: String,
                              maxBucket: Int = MaxBucket): DataFrame =
    bucketSizes(s, dir, maxBucket)
      .groupBy(col("band"))
      .agg(sum(col("bucket_size")).as("n_memberships"),
        sum(col("dropped_docs")).as("dropped_docs_total"))
      .select(col("band").cast("long").as("band"), col("n_memberships"),
        col("dropped_docs_total"))
      .orderBy(col("band"))

  val bucketConservationAuditSql: String =
    s"""WITH w AS (
      |  SELECT doc_id FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_memberships FROM w),
      |g AS (SELECT CAST(i AS BIGINT) AS band FROM range(${Bands}) t(i))
      |SELECT band, n_memberships, CAST(0 AS BIGINT) AS dropped_docs_total
      |FROM g, n ORDER BY band""".stripMargin

  private def bucketSizes(s: SparkSession, dir: String,
                          maxBucket: Int): DataFrame =
    signatureCols(s, dir)
      .select(col("doc_id"),
        posexplode(bandArray(col("sig"))).as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .select(col("band"), col("bucket"), col("bucket_size"),
        greatest(col("bucket_size") - maxBucket, lit(0L)).as("dropped_docs"))

  /** Structural-oracle audit of the signature stage (the CDC-chunk
    * pattern that moved that family from rows-only to hash-green):
    * the signature VALUES are engine-specific (mix64∘SplitMix64 has
    * no DuckDB twin), but the stage's INVARIANTS are checkable, and
    * the inputs they conserve are recomputable from raw text — so the
    * oracle hash-checks both. One row:
    *   - `n_docs` / `n_shingles_total` / `n_dup_texts` — DuckDB
    *     recomputes from `documents` (distinct (doc, w₁w₂w₃) 3-gram
    *     tuples ≡ distinct shingle hashes barring a ~2⁻⁴⁷ xxhash64
    *     birthday collision at these set sizes);
    *   - `sig_len_violations` — docs whose signature isn't exactly
    *     [[NumPerms]] slots (the banding contract);
    *   - `order_invariance_violations` — docs where the signature of
    *     the REVERSED shingle array differs (each slot is a min over
    *     the set, so any order dependence is an implementation bug);
    *   - `dup_sig_mismatches` — duplicate-text groups whose members'
    *     signatures differ (identical sets MUST sign identically —
    *     the invariant the whole LSH recall story rests on).
    * The oracle pins the three counters to literal 0.
    *
    * Scale: two narrow maps over documents (signature + reversed
    * signature), one text-keyed fold for the dup check, one 1-row
    * reduce — no explode, no pair join.
    */
  def signatureAudit(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("text"), hashedShingles(col("ws")).as("sh"))
    val sigs = base.select(col("text"), size(col("sh")).cast("long").as("n_sh"),
      graft.functions.MinHashSignature(col("sh"), NumPerms).as("sig"),
      graft.functions.MinHashSignature(reverse(col("sh")), NumPerms).as("sig_rev"))
    val perText = sigs.groupBy(col("text"))
      .agg(count(lit(1)).as("n_docs_t"), sum(col("n_sh")).as("sh_t"),
        sum(when(size(col("sig")) =!= NumPerms, 1L).otherwise(0L)).as("lenviol_t"),
        sum(when(not(col("sig") === col("sig_rev")), 1L).otherwise(0L))
          .as("ordviol_t"),
        countDistinct(col("sig")).as("n_sigs_t"))
    perText.agg(
      sum(col("n_docs_t")).as("n_docs"),
      sum(col("sh_t")).as("n_shingles_total"),
      sum(when(col("n_docs_t") > 1L, 1L).otherwise(0L)).as("n_dup_texts"),
      sum(col("lenviol_t")).as("sig_len_violations"),
      sum(col("ordviol_t")).as("order_invariance_violations"),
      sum(when(col("n_docs_t") > 1L && col("n_sigs_t") > 1L, 1L)
        .otherwise(0L)).as("dup_sig_mismatches"))
  }

  val signatureAuditSql: String =
    """WITH w AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |f AS (SELECT doc_id, text, ws FROM w WHERE len(ws) >= 3),
      |g AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
      |  FROM f, unnest(range(1, len(ws) - 1)) AS t(i))
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM f) AS n_docs,
      |  (SELECT CAST(COUNT(DISTINCT (doc_id, w1, w2, w3)) AS BIGINT) FROM g)
      |    AS n_shingles_total,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
      |    (SELECT text FROM f GROUP BY text HAVING COUNT(*) > 1))
      |    AS n_dup_texts,
      |  CAST(0 AS BIGINT) AS sig_len_violations,
      |  CAST(0 AS BIGINT) AS order_invariance_violations,
      |  CAST(0 AS BIGINT) AS dup_sig_mismatches""".stripMargin
}
