#!/bin/bash
# Standalone steady-state sweep: fresh JVM per query, `graft.Bench <name> 2`
# without the shared graph-edge cache, record rep2 from Bench's per-row
# stderr line "[bench] <name> rep<r> <sec>s ...". Produces a
# "name rep2_sec" table on stdout (rep2_sec is FAILED when a rep failed;
# the [bench] lines go to stderr).
# Usage: tools/qbench_all.sh <sf_dir> [names...]; default = all queries.
set -u
SF=${1:?sf_dir}; shift
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
if [ $# -gt 0 ]; then NAMES="$*"; else
  NAMES=$(java $OPENS -cp "$CP" graft.Bench --list)
fi
for n in $NAMES; do
  out=$(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CACHE_EDGES=false java $OPENS \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Duser.timezone=UTC \
    -Xmx16g -Xms16g -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
    -cp "$CP" graft.Bench "$n" 2 2>&1 >/dev/null | grep '^\[bench\] ')
  echo "$out" >&2
  rep2=$(echo "$out" | awk -v n="$n" '$2 == "FAILED" {f = 1} $2 == n && $3 == "rep2" {s = $4}
    END {print f ? "FAILED" : substr(s, 1, length(s) - 1)}')
  echo "$n $rep2"
done
