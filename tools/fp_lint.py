#!/usr/bin/env python3
"""Pre-gate lint for the three fp-determinism failure classes that each
cost a gate iteration in r16 (BENCHNOTES "Fp-determinism lessons"), so a
new operator's oracle SQL gets them flagged BEFORE the first DuckDB run:

  1. bare-float-literal-arithmetic — DuckDB parses a bare `0.7` as
     DECIMAL, so `(1 - 0.7)` constant-folds to a DIFFERENT double than
     Scala's `1 - lambda`. Spell `CAST(0.7 AS DOUBLE)` wherever a float
     literal takes part in + - * / arithmetic. (Pure comparisons like
     `>= 0.8` are exempt: both engines land on the identical nearest
     double, no folding chain involved.)
  2. deep-unmaterialized-cte-chain — DuckDB 1.0 re-evaluates a CTE at
     every reference; an unrolled recursive chain (the MMR argmax
     pattern) goes exponential without `AS MATERIALIZED` ("Too many
     open files" at depth 10).
  3. double-to-decimal-cast — a per-row CAST of a DOUBLE expression to
     DECIMAL can land exactly on a rounding half where the engines'
     half rules differ (Spark HALF_UP vs DuckDB half-even). Sum
     non-negative doubles on an integer nano grid instead.

Usage:
  fp_lint.py <oracle_sql.json>     lint every SQL; exit 1 on findings
                                   not listed in tools/fp_lint_allow.json
  fp_lint.py --selftest            run the three seeded examples

The allowlist maps query name -> list of finding keys adjudicated OK
(gate-green as written — e.g. a decimal literal in a genuinely DECIMAL
context, or a chain that is short enough in practice). New findings on
new or edited SQL fail loudly, which is the point.
"""
import json
import os
import re
import sys

ALLOW_PATH = os.path.join(os.path.dirname(__file__), "fp_lint_allow.json")

FLOAT_LIT = r"(?<![\w.])(\d+\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)(?![\w.])"


def _strip_strings(sql):
    """Blank out single-quoted literals so regexes don't fire inside
    paths, formats, or regex patterns embedded in the SQL."""
    return re.sub(r"'(?:[^']|'')*'", lambda m: " " * len(m.group(0)), sql)


def _exactly_representable(lit):
    """True when the decimal literal is EXACTLY a double (1e6, 100.0,
    0.5, ...): then DECIMAL-first and DOUBLE-first parse/fold chains
    cannot diverge, so the literal is safe in arithmetic. The hazard
    class is inexact literals (0.7, 2.2, ln2, ...) whose DECIMAL
    constant-fold rounds ONCE where the double chain rounds per-op."""
    from fractions import Fraction
    try:
        return Fraction(lit) == Fraction(float(lit))
    except (ValueError, OverflowError):
        return False


def lint_float_literals(sql):
    """Class 1: an INEXACT float literal used as an ARITHMETIC operand
    (+ - * /) without an enclosing CAST(... AS DOUBLE), outside
    DECIMAL(...) type declarations."""
    s = _strip_strings(sql)
    out = []
    for m in re.finditer(FLOAT_LIT, s):
        if _exactly_representable(m.group(0)):
            continue
        a, b = m.start(), m.end()
        before = s[max(0, a - 64):a]
        after = s[b:b + 64]
        # type declarations and double-cast wrappers are fine
        if re.search(r"DECIMAL\s*\(\s*$", before, re.I):
            continue
        if re.search(r"CAST\s*\(\s*[-(]*\s*$", before, re.I) and \
           re.match(r"\s*\)*\s*AS\s+DOUBLE", after, re.I):
            continue
        # interval/round-places style: `, 0)` second args of ROUND etc.
        # only matters if the literal itself is arithmetic
        prev = before.rstrip()[-1:] if before.rstrip() else ""
        nxt = after.lstrip()[:1] if after.lstrip() else ""
        arith_before = prev in "+-*/"
        arith_after = nxt in "+*/"  # trailing '-' is usually a sign, skip
        # unary minus / comparison / IN-list / function arg: not the class
        if not (arith_before or arith_after):
            continue
        # `a - 0.7` where '-' follows a comparison is still arithmetic;
        # but `>= 0.7` alone was filtered by the operand test above
        if arith_before and prev == "-" and re.search(
                r"(?:[<>=]|BETWEEN|,|\()\s*-$", before.rstrip(), re.I):
            continue  # signed literal, not subtraction
        out.append(f"float-lit-arith:{m.group(0)}@{a}")
    return out


def lint_cte_chain(sql, max_evals=32):
    """Class 2: DuckDB 1.0 inlines every (non-MATERIALIZED) CTE
    reference, so a CTE referenced k times inside a consumer that is
    itself evaluated m times evaluates k*m times — an unrolled
    recursive chain (the MMR argmax pattern references its predecessor
    twice per step) goes 2^depth. A LINEAR chain (each CTE referenced
    once) is just a nested query and is fine at any depth. Estimate
    per-CTE evaluation counts with a backwards DP and flag anything
    past max_evals; `AS MATERIALIZED` resets a subtree to one
    evaluation."""
    s = _strip_strings(sql)
    ctes = []  # (name, materialized, body_start)
    for m in re.finditer(r"(?:WITH\s+|,\s*)(\w+)\s+AS\s+(MATERIALIZED\s+)?\(",
                         s, re.I):
        ctes.append((m.group(1), bool(m.group(2)), m.end()))
    if not ctes:
        return []
    bodies = []
    for i, (name, mat, start) in enumerate(ctes):
        end = ctes[i + 1][2] if i + 1 < len(ctes) else len(s)
        bodies.append(s[start:end])
    # bodies[-1]'s span runs to the end of the SQL, so the final SELECT's
    # references are counted as part of the last CTE's consumers
    evals = {}
    for i in range(len(ctes) - 1, -1, -1):
        name, mat, _ = ctes[i]
        total = 0
        for j in range(i + 1, len(ctes)):
            refs = len(re.findall(rf"\b{re.escape(name)}\b", bodies[j]))
            if refs:
                total += refs * evals[ctes[j][0]]
        if i == len(ctes) - 1 or total == 0:
            total = max(total, 1)  # the final select evaluates it once
        # a materialized CTE evaluates once no matter how often it is read
        evals[name] = 1 if mat else min(total, 10 ** 9)
    worst = max(evals.values())
    if worst > max_evals:
        name = max(evals, key=lambda k: evals[k])
        return [f"cte-reeval:{worst}x@{name}"]
    return []


def lint_double_to_decimal(sql):
    """Class 3: CAST(<double-ish expr> AS DECIMAL(...)) — per-row
    double->decimal rounding exposes the engines' half-rule split."""
    s = _strip_strings(sql)
    out = []
    for m in re.finditer(r"CAST\s*\(", s, re.I):
        # find the matching close paren of this CAST
        i, bal = m.end(), 1
        while i < len(s) and bal:
            bal += {"(": 1, ")": -1}.get(s[i], 0)
            i += 1
        body = s[m.end():i - 1]
        tm = re.search(r"\bAS\s+DECIMAL\s*\(\s*\d+\s*,\s*[1-9]", body, re.I)
        if not tm:
            continue  # not a fractional-scale decimal target
        inner = body[:tm.start()]
        if re.search(r"\bAS\s+DOUBLE\b|::\s*DOUBLE\b|\bsqrt\s*\(|\bexp\s*\(|"
                     r"\bln\s*\(|\blog\s*\(|/", inner, re.I):
            out.append(f"double-to-decimal@{m.start()}")
    return out


def lint_sql(sql):
    return (lint_float_literals(sql) + lint_cte_chain(sql)
            + lint_double_to_decimal(sql))


def selftest():
    bad1 = "SELECT (1 - 0.7) * x AS y FROM t"
    assert any(f.startswith("float-lit-arith:0.7") for f in lint_sql(bad1)), bad1
    ok1 = "SELECT (1 - CAST(0.7 AS DOUBLE)) * x, z >= 0.8 FROM t"
    assert not lint_float_literals(ok1), lint_float_literals(ok1)
    # the real r16 shape: each unrolled step reads its predecessor TWICE
    # (argmax + carried set) -> 2^depth inlined evaluations in DuckDB
    chain = "WITH c0 AS (SELECT 1 AS v FROM t)"
    for i in range(1, 9):
        chain += (f", c{i} AS (SELECT (SELECT max(v) FROM c{i-1})"
                  f" + (SELECT min(v) FROM c{i-1}) AS v)")
    chain += " SELECT * FROM c8"
    assert any(f.startswith("cte-reeval") for f in lint_sql(chain)), chain
    mat = chain.replace(" AS (SELECT (", " AS MATERIALIZED (SELECT (")
    assert not lint_cte_chain(mat), lint_cte_chain(mat)
    # a deep LINEAR chain (each CTE read once) is just a nested query
    lin = "WITH c0 AS (SELECT 1 AS v FROM t)"
    for i in range(1, 12):
        lin += f", c{i} AS (SELECT v + 1 AS v FROM c{i-1})"
    lin += " SELECT * FROM c11"
    assert not lint_cte_chain(lin), lint_cte_chain(lin)
    bad3 = "SELECT CAST(a / b AS DECIMAL(30,15)) FROM t"
    assert any(f.startswith("double-to-decimal") for f in lint_sql(bad3)), bad3
    ok3 = "SELECT CAST(a AS DECIMAL(18,0)) * CAST(b AS DECIMAL(18,0)) FROM t"
    assert not lint_double_to_decimal(ok3)
    print("fp_lint selftest OK (3 classes caught, 3 benign twins pass)")


def main(path, bless=False):
    sqls = json.load(open(path))
    allow = json.load(open(ALLOW_PATH)) if os.path.exists(ALLOW_PATH) else {}
    bad = {}
    for name, sql in sorted(sqls.items()):
        findings = [f for f in lint_sql(sql)
                    if f not in set(allow.get(name, []))]
        if findings:
            bad[name] = findings
    if bad and bless:
        # adjudicate the current findings as OK — ONLY valid right after
        # a fully green gate run over exactly these SQLs
        for name, fs in bad.items():
            allow[name] = sorted(set(allow.get(name, [])) | set(fs))
        # drop stale entries for queries no longer registered
        allow = {k: v for k, v in sorted(allow.items()) if k in sqls}
        json.dump(allow, open(ALLOW_PATH, "w"), indent=1)
        print(f"== fp_lint: blessed {len(bad)} queries into "
              f"{os.path.basename(ALLOW_PATH)} ==")
        return
    if bad:
        for name, fs in bad.items():
            print(f"FP-LINT {name}: {'; '.join(fs)}")
        print(f"== fp_lint: {len(bad)} queries with non-allowlisted "
              f"findings (adjudicate into {os.path.basename(ALLOW_PATH)} "
              f"via --bless only AFTER the gate hash-matches) ==")
        sys.exit(1)
    print(f"== fp_lint: clean over {len(sqls)} oracle SQLs ==")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print("usage: fp_lint.py [--bless] <oracle_sql.json> | --selftest",
              file=sys.stderr)
        sys.exit(2)
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        selftest()
    else:
        main(sys.argv[-1], bless="--bless" in sys.argv[:-1])
