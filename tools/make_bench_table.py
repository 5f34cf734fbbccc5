#!/usr/bin/env python3
"""Regenerate BENCH_r{NN}_table.md from a driver-identical bench JSON
(in-suite) and a qbench_all.sh sweep file (standalone rep2: a fresh
`graft.Bench <name> 2` per query).
Usage: make_bench_table.py <round> <bench_json> <rep2_txt> > BENCH_r{NN}_table.md
(e.g. `make_bench_table.py 7 /tmp/bench.json /tmp/rep2.txt`).
Round-agnostic successor of make_r5/r6_table.py (which also carried a
stale usage line and treated a legitimate 0.0 rep2 time as missing).
"""
import json
import sys


def main(round_label, bench_json, rep2_txt):
    d = json.load(open(bench_json))
    insuite = d["queries"]
    rep2 = {}
    for line in open(rep2_txt):
        parts = line.split()
        if len(parts) == 2:
            try:
                rep2[parts[0]] = float(parts[1])
            except ValueError:
                pass
    names = sorted(set(insuite) | set(rep2))
    print(f"# BENCH r{round_label} — per-query: in-suite (driver harness, "
          "sbt) vs standalone rep2 (fresh JVM)")
    print()
    print(f"In-suite: one full `sbt \"runMain graft.Bench\"` at sf0.1 "
          f"(driver-identical), total **{d['value']:.1f} s** / "
          f"{sum(1 for k in insuite if not k.startswith('_'))} queries "
          f"(+ the _-prefixed shared cache-build row), "
          f"failed={d['failed']}, "
          f"t_main_ms={d['t_main_ms']} (JVM+pretouch+session+warmup, "
          f"outside query timings). rep2: `graft.Bench <name> 2` in a "
          f"fresh JVM per query (steady state). Ratio = in-suite / rep2. "
          f"Earlier rounds and the r4 band's root-cause evidence: "
          f"BENCHNOTES.md.")
    print()
    print("| query | in-suite (s) | rep2 (s) | ratio |")
    print("|---|---|---|---|")
    worst = []
    for n in names:
        a = insuite.get(n)
        b = rep2.get(n)
        ac = f"{a:.2f}" if a is not None else "-"
        bc = f"{b:.2f}" if b is not None else "-"
        # b == 0.0 is a real measurement (sub-10ms query), not missing —
        # it just can't be a ratio denominator
        if a is not None and b is not None and b > 0:
            r = a / b
            rc = f"{r:.1f}x"
            worst.append((r, n))
        else:
            rc = "-"
        print(f"| {n} | {ac} | {bc} | {rc} |")
    worst.sort(reverse=True)
    print()
    tops = ", ".join(f"{n} {r:.1f}x" for r, n in worst[:5])
    print(f"Worst in-suite/rep2 ratios: {tops}.")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3])
