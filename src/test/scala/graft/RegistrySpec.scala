package graft

import graft.SparkEntry.{registry, Warm}

/** Registry invariants: one record per name (a repeated name would
  * silently shadow a query in the by-name views), the rows-only set is
  * exactly the adjudicated five, every oracle is real SQL, every SmallSf
  * warm-up builds at the smoke scale factor, and the flagship entry
  * returns rows (the driver's smoke contract).
  */
class RegistrySpec extends SparkSpec {

  test("registry names are unique") {
    val dupes = registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dupes.isEmpty, s"names registered twice: ${dupes.toSeq.sorted}")
  }

  test("the rows-only set is exactly the five adjudicated entries") {
    assert(registry.filter(_.oracle.isEmpty).map(_.name).toSet == Set(
      "compaction_plan", "dolar_e2e_stream_pt", "multimodal_decode_stub",
      "multimodal_frame_sample", "text_bpe_train"))
  }

  test("every oracle SQL is non-blank") {
    val blank = registry.collect { case q if q.oracle.exists(_.trim.isEmpty) => q.name }
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }

  test("every SmallSf warm-up query runs at the smoke scale factor") {
    // Bench warms these at sf0.001 and only logs a failure, so a broken
    // warm build would otherwise cost warmth silently, round after round
    val small = registry.filter(_.warm == Warm.SmallSf)
    assert(small.nonEmpty)
    val failed = small.flatMap { q =>
      try { q.build(spark, sf).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Exception => Some(s"${q.name}: $e") }
    }
    assert(failed.isEmpty, failed.mkString("; "))
  }

  test("query names are stable snake_case identifiers") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-snake-case query names: $bad")
  }

  test("flagship entry returns rows at the smoke scale factor") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1)
  }

  // ---- claim-count drift gates (r15 verdict item 3) ----------------
  // tools/update_claims.py only runs at round close, so a post-close
  // commit could add a query and leave OPERATORS.md/README stale for a
  // full round (it happened in r14 AND r15). These tests move the
  // equality into `sbt test` itself: any registry change now fails the
  // suite until `python3 tools/gen_operators.py` + update_claims
  // regenerate the docs.

  private def readRepoFile(name: String): String = {
    val p = java.nio.file.Paths.get(name)
    assert(java.nio.file.Files.isRegularFile(p), s"$name missing from repo root")
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  test("OPERATORS.md header counts match the registry") {
    val txt = readRepoFile("OPERATORS.md")
    val m = """\*\*(\d+) registered queries\*\* \((\d+) oracle-checked[^,]*, (\d+) rows-only""".r
      .findFirstMatchIn(txt)
    assert(m.isDefined, "OPERATORS.md header count line not found")
    val (total, oracled, rowsOnly) =
      (m.get.group(1).toInt, m.get.group(2).toInt, m.get.group(3).toInt)
    assert(total == SparkEntry.queries.size,
      s"OPERATORS.md says $total queries, registry has ${SparkEntry.queries.size} — rerun tools/gen_operators.py")
    assert(oracled == SparkEntry.oracleSql.size,
      s"OPERATORS.md says $oracled oracle-checked, registry has ${SparkEntry.oracleSql.size}")
    assert(rowsOnly == SparkEntry.queries.size - SparkEntry.oracleSql.size,
      s"OPERATORS.md says $rowsOnly rows-only, registry has ${SparkEntry.queries.size - SparkEntry.oracleSql.size}")
  }

  test("OPERATORS.md rows cover exactly the registered queries") {
    val txt = readRepoFile("OPERATORS.md")
    val rows = """(?m)^\| `([a-z0-9_]+)` \|""".r
      .findAllMatchIn(txt).map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- rows
    val stale = rows -- SparkEntry.queries.keySet
    assert(missing.isEmpty && stale.isEmpty,
      s"OPERATORS.md drift — missing rows: ${missing.toSeq.sorted.mkString(",")}; " +
        s"stale rows: ${stale.toSeq.sorted.mkString(",")} — rerun tools/gen_operators.py")
  }

  test("README STATE cites the NEWEST populated driver correctness artifact") {
    // r16 verdict item 4: the STATE block shipped citing CORRECTNESS_r14
    // while a populated r16 artifact sat beside it (update_claims.py only
    // ran at the PREVIOUS close). This pins the cited artifact filename
    // to the newest non-empty CORRECTNESS_r*.json in the repo, so a
    // round-open regeneration is now mandatory, not a habit.
    val txt = readRepoFile("README.md")
    val state = txt.substring(txt.indexOf("STATE:BEGIN"), txt.indexOf("STATE:END"))
    val cited = """CORRECTNESS_r(\d+)\.json""".r.findFirstMatchIn(state)
    val populated = new java.io.File(".").listFiles.toSeq
      .map(_.getName)
      .flatMap { n =>
        """^CORRECTNESS_r(\d+)\.json$""".r.findFirstMatchIn(n)
          .filter { _ =>
            // populated = parses to a non-empty JSON object; a bare `{}`
            // (the r15 crash shape) or garbage must not count
            val body = readRepoFile(n).trim
            body.startsWith("{") && body.length > 2
          }
          .map(m => m.group(1).toInt)
      }
    assume(populated.nonEmpty, "no driver correctness artifacts in repo root")
    assert(cited.isDefined,
      "README STATE block cites no CORRECTNESS_r*.json artifact")
    assert(cited.get.group(1).toInt == populated.max,
      s"README STATE cites CORRECTNESS_r${cited.get.group(1)}.json but the " +
        s"newest populated artifact is CORRECTNESS_r${populated.max}.json — " +
        "rerun tools/update_claims.py")
  }

  test("README STATE block's registered-query count matches the registry") {
    val txt = readRepoFile("README.md")
    val state = txt.substring(txt.indexOf("STATE:BEGIN"), txt.indexOf("STATE:END"))
    val m = """(\d+) registered queries""".r.findFirstMatchIn(state)
    assert(m.isDefined, "README STATE block has no registered-query count")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"README says ${m.get.group(1)} registered queries, registry has ${SparkEntry.queries.size} — rerun tools/update_claims.py")
  }
}
