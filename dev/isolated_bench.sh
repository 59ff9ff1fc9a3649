#!/bin/bash
# Per-query ISOLATED bench sweep — the scale-validation protocol behind
# evidence/BENCH_sf1.json (PLANS.md "Round 6: measured scale validation").
#
# Each query runs in its own fresh JVM (graft.Bench: untimed warmup pass
# + SPARK_GRAFT_BENCH_RUNS timed runs), so one query's GC/page-cache
# churn never lands in another's timing — the interleaved single-JVM
# suite inflates memory-heavy queries up to 5x at sf1.
#
# Usage: dev/isolated_bench.sh "<q1,q2,...>" <sfDir> <outJsonl>
#   dev/isolated_bench.sh "$(cat heavy.txt)" /tmp/graft_sf1 /tmp/iso.jsonl
# Requires: sbt -batch compile beforehand (reads target/scala-2.13/classes).
#
# SPARK_GRAFT_SAMPLES (default 1) runs each query in that many fresh
# JVMs; each lands as its own JSONL line with a "sample" index (medians
# are computed downstream). The page cache stays warm between samples.
set -u
QUERIES=$1; SFDIR=$2; OUT=$3
SAMPLES=${SPARK_GRAFT_SAMPLES:-1}
CP="$(dirname "$0")/../target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
: > "$OUT"
IFS=',' read -ra QS <<< "$QUERIES"
for q in "${QS[@]}"; do
  for s in $(seq 1 "$SAMPLES"); do
    line=$(SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
      SPARK_GRAFT_BENCH_RUNS=${SPARK_GRAFT_BENCH_RUNS:-1} SPARK_GRAFT_BENCH_ONLY="$q" \
      java $OPENS -Xmx${SPARK_DRIVER_MEM:-48g} -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench 2>/dev/null | grep '"metric"')
    # a failed run (or one with no metric line) must land as an explicit
    # error record — an empty $line would write '"bench":}', invalid JSON
    # silently corrupting the artifact
    if [ -z "$line" ]; then
      echo "{\"query\":\"$q\",\"sf\":\"$SFDIR\",\"sample\":$s,\"bench\":null,\"error\":\"no metric line (JVM failed or query crashed)\"}" >> "$OUT"
      echo "[isolated_bench] $q sample $s FAILED (no metric line)" >&2
    else
      echo "{\"query\":\"$q\",\"sf\":\"$SFDIR\",\"sample\":$s,\"bench\":$line}" >> "$OUT"
      echo "[isolated_bench] $q sample $s done" >&2
    fi
  done
done
echo DONE >> "$OUT"
