#!/bin/bash
# SCALECHECK (r16 verdict item 1): measure the repo's scale posture
# instead of plan-reading it. Runs the named queries at TWO corpus sizes
# (the driver sf0.1 tables and a ScaleGen N-times replica), fresh JVM per
# query (`graft.Bench <name> 2` without the shared graph-edge cache),
# recording rep2 (steady-state) walls for both, read from Bench's per-row
# stderr line "[bench] <name> rep2 <sec>s ..." (FAILED when a rep failed).
# Usage: tools/scalecheck.sh <sf_dir> <scaled_dir> <out_tsv> [names...]
set -u
SF=${1:?sf_dir}; BIG=${2:?scaled_dir}; OUT=${3:?out_tsv}; shift 3
CP="/opt/spark/jars/*:/root/repo/target/scala-2.13/classes"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
run_one() { # $1=sfdir $2=query -> rep2 seconds (or FAILED) on stdout
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_CACHE_EDGES=false java $OPENS \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Duser.timezone=UTC \
    -Xmx16g -Xms16g -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
    -cp "$CP" graft.Bench "$2" 2 2>&1 >/dev/null |
    awk -v n="$2" '$2 == "FAILED" {f = 1} $2 == n && $3 == "rep2" {s = $4}
      END {print f ? "FAILED" : substr(s, 1, length(s) - 1)}'
}
echo -e "query\tbase_rep2_s\tscaled_rep2_s\tratio" > "$OUT"
for n in "$@"; do
  a=$(run_one "$SF" "$n"); b=$(run_one "$BIG" "$n")
  r=$(A="$a" B="$b" python3 -c 'import os; print("%.2f" % (float(os.environ["B"]) / float(os.environ["A"])))' 2>/dev/null || echo nan)
  echo -e "$n\t$a\t$b\t$r" | tee -a "$OUT" >&2
done
echo "scalecheck done -> $OUT" >&2
