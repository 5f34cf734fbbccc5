#!/bin/bash
# SCALECHECK: measure the repo's scale posture instead of plan-reading it.
# Runs the named queries at TWO corpus sizes (the driver sf0.1 tables and
# a ScaleGen N-times replica) through tools/qbench_all.sh, one sweep per
# corpus (fresh JVM per query, rep2 = steady-state wall, FAILED when a rep
# failed), and joins the two sweeps into one table.
# Usage: tools/scalecheck.sh <sf_dir> <scaled_dir> <out_tsv> [names...]
# (no names: every registered query)
set -u
SF=${1:?sf_dir}; BIG=${2:?scaled_dir}; OUT=${3:?out_tsv}; shift 3
SWEEP="$(dirname "$0")/qbench_all.sh"
base=$("$SWEEP" "$SF" "$@"); scaled=$("$SWEEP" "$BIG" "$@")
{ echo -e "query\tbase_rep2_s\tscaled_rep2_s\tratio"
  awk 'NR == FNR {a[$1] = $2; next}
    {r = (a[$1] + 0 > 0 && $2 + 0 > 0) ? sprintf("%.2f", $2 / a[$1]) : "nan"
     print $1 "\t" a[$1] "\t" $2 "\t" r}' <(echo "$base") <(echo "$scaled")
} | tee "$OUT" >&2
echo "scalecheck done -> $OUT" >&2
