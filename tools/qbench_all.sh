#!/bin/bash
# Standalone steady-state sweep: fresh JVM per query, `graft.Bench <name> 2`
# without the shared graph-edge cache, record rep2 from Bench's per-row
# stderr line "[bench] <name> rep<r> <sec>s ...". Produces a
# "name rep2_sec" table on stdout (rep2_sec is FAILED when a rep failed;
# the [bench] lines go to stderr).
# Usage: tools/qbench_all.sh <sf_dir> [names...]; default = all queries.
# Runs this checkout's compiled classes (`sbt compile` first) against the
# jar directory build.sbt names. Heap: SPARK_DRIVER_MEM if set, else half
# of MemTotal clamped to 2-8 g, committed and pre-touched at JVM start so
# no timed rep pays for heap growth.
set -u
SF=${1:?sf_dir}; shift
ROOT=$(cd "$(dirname "$0")/.." && pwd)
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
CP="$JARS/*:$ROOT/target/scala-2.13/classes"
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
JAVA=(java -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC
  -Duser.timezone=UTC -Dfile.encoding=UTF-8 -Xmx"$MEM" -Xms"$MEM"
  -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing -cp "$CP")
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  JAVA+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
if [ $# -gt 0 ]; then NAMES="$*"; else
  NAMES=$("${JAVA[@]}" graft.Bench --list)
fi
for n in $NAMES; do
  out=$(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CACHE_EDGES=false \
    "${JAVA[@]}" graft.Bench "$n" 2 2>&1 >/dev/null | grep '^\[bench\] ')
  echo "$out" >&2
  rep2=$(echo "$out" | awk -v n="$n" '$2 == "FAILED" {f = 1} $2 == n && $3 == "rep2" {s = $4}
    END {print f ? "FAILED" : substr(s, 1, length(s) - 1)}')
  echo "$n $rep2"
done
