#!/usr/bin/env python3
"""Bit-identity check between two `graft.Verify` output dirs.

For every query dir in either dump, DuckDB reads its parquet files and
computes a signature: the column names and types, the row count, and
an order-insensitive row-hash sum (the sum of one hash per row). Every
value is hashed through its VARCHAR form, so doubles compare by their
shortest round-trip text: -0.0 and 0.0 differ, and so does a
last-bit change (DuckDB's own hash treats -0.0 and 0.0 as equal).
`oracle_sql.json` is compared key by key.

Use it after a kernel change that must not move any result: dump the
parent and the change at each SF, then compare.

Usage: compare_dumps.py <dirA> <dirB>   (exit 0 = identical, 1 = not)
       compare_dumps.py --selftest
"""
import json, os, sys, tempfile
import duckdb

ORACLE = "oracle_sql.json"


def query_dirs(root):
    return {e.name for e in os.scandir(root) if e.is_dir()}


def signature(con, qdir):
    """(schema, rows, hash sum) of one query dir, or None without parquet."""
    if not any(f.endswith(".parquet") for f in os.listdir(qdir)):
        return None
    src = f"read_parquet('{qdir}/*.parquet')"
    schema = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    cols = ", ".join('CAST("{}" AS VARCHAR)'.format(c[0].replace('"', '""'))
                     for c in schema)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM {src}").fetchone()
    return [(c[0], c[1]) for c in schema], n, int(h)


def describe(sig):
    if sig is None:
        return "no output"
    schema, n, h = sig
    return f"{n} rows, hash {h:x}, {len(schema)} cols"


def compare(a, b, out=sys.stdout):
    """Prints one line per differing query and a summary; returns the
    names that differ."""
    con = duckdb.connect()
    bad = []
    names = sorted(query_dirs(a) | query_dirs(b))
    for name in names:
        sa, sb = (signature(con, os.path.join(r, name))
                  if os.path.isdir(os.path.join(r, name)) else None for r in (a, b))
        if sa is None or sb is None or sa != sb:
            why = describe(sa) + " vs " + describe(sb)
            if sa and sb and sa[0] != sb[0]:
                why = f"schema {sa[0]} vs {sb[0]}"
            print(f"DIFF {name}: {why}", file=out)
            bad.append(name)
    oa, ob = os.path.join(a, ORACLE), os.path.join(b, ORACLE)
    if os.path.exists(oa) or os.path.exists(ob):
        ja = json.load(open(oa)) if os.path.exists(oa) else {}
        jb = json.load(open(ob)) if os.path.exists(ob) else {}
        for k in sorted(set(ja) | set(jb)):
            if ja.get(k) != jb.get(k):
                print(f"DIFF {ORACLE}: entry {k}", file=out)
                bad.append(f"{ORACLE}:{k}")
    print(f"== {len(names)} queries, {len(bad)} differ ==", file=out)
    return bad


def selftest():
    import io
    import pyarrow as pa
    import pyarrow.parquet as pq

    def dump(root, tables, oracle=None):
        os.makedirs(root)
        for name, parts in tables.items():
            os.makedirs(os.path.join(root, name))
            for i, t in enumerate(parts):
                pq.write_table(t, os.path.join(root, name, f"part-{i}.parquet"))
        json.dump(oracle or {"q": "SELECT 1"}, open(os.path.join(root, ORACLE), "w"))

    def tbl(xs, ks, xtype=pa.float64()):
        return pa.table({"k": pa.array(ks, pa.int64()), "x": pa.array(xs, xtype)})

    base = {"q": [tbl([1.5, 0.1, None], [1, 2, 3])]}
    cases = [
        # (label, dump A, dump B, oracle B, must differ)
        ("same rows, other order and files",
         base, {"q": [tbl([None], [3]), tbl([0.1, 1.5], [2, 1])]}, None, False),
        ("a last-bit double change",
         base, {"q": [tbl([1.5, 0.1 + 2**-55, None], [1, 2, 3])]}, None, True),
        ("-0.0 against 0.0",
         {"q": [tbl([0.0], [1])]}, {"q": [tbl([-0.0], [1])]}, None, True),
        ("a missing row", base, {"q": [tbl([1.5, 0.1], [1, 2])]}, None, True),
        ("a type change",
         base, {"q": [tbl([1.5, 0.1, None], [1, 2, 3], pa.float32())]}, None, True),
        ("a missing query", base, {}, None, True),
        ("a changed oracle string", base, base, {"q": "SELECT 2"}, True),
    ]
    ok = True
    for label, a_tables, b_tables, b_oracle, must_differ in cases:
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            dump(a, a_tables)
            dump(b, b_tables, b_oracle)
            bad = compare(a, b, out=io.StringIO())
            if bool(bad) != must_differ:
                print(f"SELFTEST FAIL: {label}: expected "
                      f"{'a difference' if must_differ else 'identity'}, got {bad}")
                ok = False
            else:
                print(f"ok: {label}")
    return ok


def main(argv):
    if argv == ["--selftest"]:
        return 0 if selftest() else 1
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[-2].strip(), file=sys.stderr)
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        return 2
    return 1 if compare(*argv) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
