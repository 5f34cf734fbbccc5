#!/usr/bin/env python3
"""Generate OPERATORS.md — a navigable index of every registered query:
name -> implementing file:line -> first scaladoc sentence -> oracle class.

360+ queries across ~20 families is hard to navigate from SparkEntry.scala
alone (r14 verdict item 6). Everything here is parsed from the tree at
generation time, so the index can never say something the code doesn't;
tools/update_claims.py fails the claims step when this file's query count
disagrees with the registry (same staleness gate as the README count).

Usage: gen_operators.py   (run from the repo root; writes OPERATORS.md)
"""
import glob
import os
import re
import sys

SRC = "src/main/scala/graft/SparkEntry.scala"


def split_args(text, i):
    """Top-level comma-separated args of the call whose `(` is text[i-1],
    and the index just past its closing `)`."""
    args, depth, cur, quote = [], 0, "", False
    while True:
        c = text[i]
        i += 1
        if c == '"':
            quote = not quote
        elif not quote and c in "([{":
            depth += 1
        elif not quote and c in ")]}":
            if depth == 0:
                args.append(cur)
                return [" ".join(a.split()) for a in args], i
            depth -= 1
        elif not quote and c == "," and depth == 0:
            args.append(cur)
            cur = ""
            continue
        cur += c


def registry():
    """[(name, build_expr, has_oracle)] in registration order, from the
    `Query(name, build, oracle[, warm])` records of SparkEntry.registry."""
    src = open(SRC).read()
    start = src.index("lazy val registry")
    block = src[start:src.index("\n  )\n", start)]
    out = []
    for m in re.finditer(r"\bQuery\(", block):
        args, _ = split_args(block, m.end())
        out.append((args[0].strip('"'), args[1], args[2] != "None"))
    return out


def object_files():
    """qualifier -> path for every `object X` under src/main/scala."""
    objs = {}
    for p in glob.glob("src/main/scala/**/*.scala", recursive=True):
        txt = open(p).read()
        for m in re.finditer(r"^(?:\s*)object\s+([A-Za-z0-9_]+)", txt, re.M):
            objs.setdefault(m.group(1), p)
    return objs


def first_doc_sentence(lines, def_idx):
    """First sentence of the scaladoc block ending just above def_idx."""
    i = def_idx - 1
    while i >= 0 and not lines[i].strip():
        i -= 1
    if i < 0 or not lines[i].strip().endswith("*/"):
        return ""
    end = i
    while i >= 0 and "/**" not in lines[i]:
        i -= 1
    if i < 0:
        return ""
    doc = " ".join(
        re.sub(r"^\s*(/\*\*|\*/?|\*)\s?", "", lines[j]).strip()
        for j in range(i, end + 1))
    doc = re.sub(r"\[\[([^\]]+)\]\]", r"`\1`", doc)
    doc = re.sub(r"\s+", " ", doc).strip()
    # first sentence: up to the first ". " not inside a number like "1.0"
    m = re.search(r"(?<![0-9])\.\s", doc)
    return (doc[:m.start() + 1] if m else doc)[:220]


def locate(impl_expr, objs):
    """(path, line, doc) of the method the registry entry calls."""
    m = (re.search(r"([A-Za-z0-9_.]+)\.([a-zA-Z0-9_]+)\s*(?:_|\()", impl_expr)
         or re.search(r"([A-Za-z0-9_.]+)\.([a-zA-Z0-9_]+)\s*$", impl_expr))
    if m:
        qual, meth = m.group(1).split(".")[-1], m.group(2)
        path = objs.get(qual)
    else:
        # bare method defined in SparkEntry itself, e.g. `dolarE2e`
        bm = re.search(r"([a-zA-Z0-9_]+)\s*(?:_|\(|$)", impl_expr)
        if not bm:
            return None
        meth, path = bm.group(1), SRC
    if not path:
        return None
    lines = open(path).read().splitlines()
    for idx, ln in enumerate(lines):
        if re.search(rf"def {meth}\b", ln):
            return path, idx + 1, first_doc_sentence(lines, idx)
    return None


def family(name):
    return name.split("_")[0]


def main():
    objs = object_files()
    rows, missing = [], []
    for name, impl, has_oracle in registry():
        loc = locate(impl, objs)
        if loc is None:
            missing.append(name)
        else:
            rows.append((name, loc[0], loc[1], loc[2], has_oracle))
    if missing:
        sys.exit(f"could not locate implementations for: {missing}")
    n_oracle = sum(1 for r in rows if r[4])
    fams = {}
    for r in rows:
        fams.setdefault(family(r[0]), []).append(r)
    out = [
        "# Operator index",
        "",
        "<!-- GENERATED by tools/gen_operators.py - do not hand-edit. -->",
        "<!-- Regenerated by the close workflow; tools/update_claims.py "
        "fails when this file's count drifts from SparkEntry.registry. -->",
        "",
        f"**{len(rows)} registered queries** ({n_oracle} oracle-checked "
        f"against DuckDB, {len(rows) - n_oracle} rows-only with a dedicated "
        f"spec), grouped by name prefix. Every row is parsed from the tree: "
        f"the link is the implementing `def`, the description its scaladoc's "
        f"first sentence.",
        "",
        "The rows-only residue is PERMANENT by adjudication (the five-class "
        "rationale lives in `SparkEntry.Query`'s scaladoc): "
        "`compaction_plan` reads Spark's physical file listing (no DuckDB "
        "analogue); `dolar_e2e_stream_pt` exists to exercise the live "
        "ProcessingTime trigger and duplicates the oracle-checked stream "
        "twin's rows; `multimodal_decode_stub`/`multimodal_frame_sample` "
        "run the JDK-environment codec seam over opaque binary; "
        "`text_bpe_train` emits the merge table of an adaptive trainer "
        "(each round's query depends on the previous answer). Everything "
        "graduate-able has graduated (r15–r17: 22 → 5).",
        "",
    ]
    for fam in sorted(fams):
        frows = sorted(fams[fam])
        out.append(f"## {fam} ({len(frows)})")
        out.append("")
        out.append("| query | impl | oracle | what it computes |")
        out.append("|---|---|---|---|")
        for name, path, line, doc, has_oracle in frows:
            oc = "DuckDB" if has_oracle else "rows-only"
            doc = doc.replace("|", "\\|")
            out.append(f"| `{name}` | `{path}:{line}` | {oc} | {doc} |")
        out.append("")
    open("OPERATORS.md", "w").write("\n".join(out) + "\n")
    print(f"OPERATORS.md: {len(rows)} queries, {n_oracle} oracle-checked, "
          f"{len(fams)} families")


if __name__ == "__main__":
    main()
