#!/usr/bin/env python3
"""Regenerate the README's generated State block from run artifacts, so
test/suite/query counts can never drift from the tree again (they did in
r5 and r6 when hand-typed).

Usage:
  update_claims.py <round> <sbt_test_log> <compare_oracle_log> [bench_table_md] [bench_json]

Parses:
  - "Tests: succeeded N" / "Suites: completed M" from the sbt -batch test log
  - "== K ok / 0 bad ==" and the "rows-only" line count from a
    tools/compare_oracle.py log
Rewrites the block between the STATE:BEGIN / STATE:END markers in
README.md, and prints the canonical one-line claim for BENCHNOTES
sections to copy verbatim.

The oracle claim is mechanically tied to the STRONGEST artifact
available (the r7 lesson — the local gate passed a query the driver
failed): when a driver-written CORRECTNESS_r*.json exists, the newest
one supplies the driver-checked numbers and is cited as the source; the
local compare log then only covers queries added SINCE that artifact.
The DuckDB version the local gate ran under is recorded either way.
"""
import glob
import json
import os
import re
import sys


def registry_size():
    """Number of registered queries, parsed from the tree itself
    (the `Query("name", ...)` records of SparkEntry.scala's `registry`)
    — the r14 lesson: a query landed after the close-artifacts commit
    and the README said 359 in a 360-query tree. Counting the tree at
    update time (and failing when the logs disagree, see main) makes
    that drift a build failure."""
    src = open("src/main/scala/graft/SparkEntry.scala").read()
    start = src.index("lazy val registry")
    end = src.index("\n  )\n", start)
    keys = re.findall(r'\bQuery\(\s*"([A-Za-z0-9_]+)"', src[start:end])
    if len(keys) != len(set(keys)):
        dupes = sorted(k for k in set(keys) if keys.count(k) > 1)
        sys.exit(f"duplicate registry names in SparkEntry.registry: {dupes}")
    return len(keys)


def newest_driver_artifact():
    """(path, round_no) of the newest NON-EMPTY CORRECTNESS_r*.json, or
    None. Empty artifacts are skipped: r15's arrived as `{}` (the bench
    JVM died before the driver saw any rows), and citing it as "the
    strongest evidence" would generate a 0/0 driver claim that reads as
    zero coverage when the actual strongest driver evidence is the
    previous round's."""
    best = None
    for p in glob.glob("CORRECTNESS_r*.json"):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(p))
        if not m:
            continue
        try:
            if not json.load(open(p)):
                # empty ({}) is an adjudicated state (r15); say so anyway
                print(f"WARN: skipping EMPTY driver artifact {p}",
                      file=sys.stderr)
                continue
        except Exception as e:
            # an UNPARSEABLE newest artifact must not silently demote the
            # driver-evidence claim to an older round (r16 ADVICE)
            print(f"WARN: skipping UNPARSEABLE driver artifact {p}: {e}",
                  file=sys.stderr)
            continue
        if best is None or int(m.group(1)) > best[1]:
            best = (p, int(m.group(1)))
    return best


def main(round_label, sbt_log, cmp_log, bench_table=None, bench_json=None):
    sbt = open(sbt_log).read()
    cmp_txt = open(cmp_log).read()
    tests = re.search(r"Tests: succeeded (\d+), failed (\d+)", sbt)
    suites = re.search(r"Suites: completed (\d+), aborted (\d+)", sbt)
    ok = re.search(r"== (\d+) ok / (\d+) bad ==", cmp_txt)
    if not (tests and suites and ok):
        sys.exit("could not parse counts from the given logs")
    n_tests, n_failed = int(tests.group(1)), int(tests.group(2))
    n_suites, n_aborted = int(suites.group(1)), int(suites.group(2))
    n_ok, n_bad = int(ok.group(1)), int(ok.group(2))
    rows_only = len(re.findall(r": rows-only, ", cmp_txt))
    duck_ver = re.search(r"local gate duckdb ([\d.]+)", cmp_txt)
    duck_note = f", local gate duckdb {duck_ver.group(1)}" if duck_ver else ""
    # every registered query appears exactly once in the compare log —
    # either as an oracle-checked row or in the rows-only list — so the
    # log total must equal the TREE's registry size; a mismatch means
    # the gate logs are stale (a query landed after they were produced)
    # and the claims they would generate are wrong. Fail loudly.
    total = n_ok + rows_only
    tree_total = registry_size()
    if total != tree_total:
        sys.exit(
            f"STALE LOGS: compare log covers {total} queries but "
            f"SparkEntry.registry registers {tree_total} — rerun "
            f"graft.Verify + compare_oracle.py on the current tree "
            f"before regenerating claims")
    # OPERATORS.md is generated from the same registry — hold it to the
    # same staleness gate so the index can't lag a post-close addition
    if os.path.exists("OPERATORS.md"):
        ops = re.search(r"\*\*(\d+) registered queries\*\*",
                        open("OPERATORS.md").read())
        if not ops or int(ops.group(1)) != tree_total:
            sys.exit(
                f"STALE OPERATORS.md: says "
                f"{ops.group(1) if ops else '?'} queries, tree has "
                f"{tree_total} — rerun tools/gen_operators.py")

    # driver artifact, when present, is the stronger evidence: report its
    # numbers for the queries it covers, local-gate numbers for the rest
    art = newest_driver_artifact()
    if art:
        path, rnd = art
        drv = json.load(open(path))
        drv_ok = sum(1 for v in drv.values() if v.get("hash_match") is True)
        drv_bad = sum(1 for v in drv.values() if v.get("hash_match") is False
                      or v.get("err") not in (None, "no_oracle"))
        oracle_claim = (
            f"**{drv_ok}/{drv_ok + drv_bad} oracle-checked hash-match "
            f"DuckDB (driver-checked, `{os.path.basename(path)}`)**")
        if drv_bad:
            red = [k for k, v in drv.items() if v.get("hash_match") is False
                   or v.get("err") not in (None, "no_oracle")]
            local_ok = set(re.findall(r"^(\S+): OK \(", cmp_txt, re.M))
            fixed = sorted(set(red) & local_ok)
            oracle_claim += f" — {drv_bad} RED driver-side"
            if fixed:
                oracle_claim += (f" ({', '.join(fixed)} since respelled; "
                                 f"green in the local gate, pending next "
                                 f"driver run)")
        # queries not yet in the driver artifact carry local evidence only
        new_q = total - len(drv)
        if new_q > 0:
            oracle_claim += (f"; +{new_q} newer queries local-gate only "
                             f"({n_ok}/{n_ok + n_bad} local{duck_note})")
        else:
            oracle_claim += (f"; local gate {n_ok}/{n_ok + n_bad}{duck_note}")
    else:
        oracle_claim = (f"**{n_ok}/{n_ok + n_bad} oracle-checked hash-match "
                        f"DuckDB (LOCAL GATE ONLY{duck_note})**")

    status = "all green" if n_failed == n_aborted == n_bad == 0 else (
        f"{n_failed} test / {n_bad} oracle FAILURES")
    # repo-relative: an absolute /root/... path is machine-local noise
    table_ref = (f" Latest per-query bench table: "
                 f"`{os.path.relpath(bench_table)}`.") if bench_table else ""
    # bench total is generated from the artifact, never hand-typed (the
    # r11 "~2 min" prose drifted to 3.5 min as the registry grew)
    if bench_json:
        b = json.load(open(bench_json))
        # "_"-prefixed rows (the shared cache-build) are suite work but
        # not registered queries — excluding them keeps this count equal
        # to the registry size (r14 lesson: a 359-vs-360 cosmetic gap in
        # this very line drew a verdict item)
        nq = b.get("n_queries") or sum(
            1 for k in (b.get("queries") or {}) if not k.startswith("_"))
        table_ref += (f" Driver-identical bench"
                      f" (`{os.path.basename(bench_json)}`):"
                      f" {b['value']:.1f} s / {nq} queries at sf0.1.")
    block = (
        f"<!-- STATE:BEGIN generated by tools/update_claims.py - do not hand-edit -->\n"
        f"**State (round {round_label}):** {total} registered queries, "
        f"{oracle_claim} "
        f"({rows_only} rows-only entries, each pinned by a dedicated spec); "
        f"{n_tests} ScalaTest tests across {n_suites} suites, {status}."
        f"{table_ref}\n"
        f"<!-- STATE:END -->")
    readme = open("README.md").read()
    pat = re.compile(r"<!-- STATE:BEGIN.*?<!-- STATE:END -->", re.S)
    if not pat.search(readme):
        sys.exit("README.md has no STATE:BEGIN/END markers")
    open("README.md", "w").write(pat.sub(block, readme))
    print(f"README updated. Canonical claims line for BENCHNOTES:")
    print(f"{total} queries; {n_ok}/{n_ok + n_bad} oracle-checked "
          f"({rows_only} rows-only); {n_tests} tests / {n_suites} suites.")


if __name__ == "__main__":
    main(*sys.argv[1:])
