#!/bin/bash
# Alternating-JVM CONF A/B — the env-variant sibling of altjvm_bench.sh
# for configuration experiments (r14 item: scale-adaptive shuffle width).
# ONE repo, ONE set of classes; the two sides differ ONLY in
# SPARK_GRAFT_EXTRA_CONF, so every delta is the conf's. Same rotation /
# fresh-JVM / in-JVM-median protocol as altjvm_bench.sh; summarize with
# dev/altjvm_summary.py (side A = confA, side B = confB).
#
# usage: dev/altjvm_conf.sh <repo> "<confA>" "<confB>" "<q1,q2,...|ALL>" <sfDir> <rounds> <out.jsonl>
#   confA/confB: "k=v;k=v" (empty string = defaults)
#   ALL as the query list runs the whole suite (no BENCH_ONLY filter).
set -u
REPO=$1; CONFA=$2; CONFB=$3; QUERIES=$4; SFDIR=$5; ROUNDS=$6; OUT=$7
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
(cd "$REPO" && sbt -batch compile >/dev/null 2>&1) || { echo "[altjvm-conf] compile failed" >&2; exit 1; }
CP="$REPO/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
run_side() { # run_side <side> <conf> <round>
  local side=$1 conf=$2 round=$3
  local line
  # ALL leaves SPARK_GRAFT_BENCH_ONLY unset: the whole suite runs
  line=$(
    [ "$QUERIES" = "ALL" ] || export SPARK_GRAFT_BENCH_ONLY="$QUERIES"
    SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
      SPARK_GRAFT_BENCH_RUNS=${SPARK_GRAFT_BENCH_RUNS:-3} SPARK_GRAFT_EXTRA_CONF="$conf" \
      java $OPENS -Xmx${SPARK_DRIVER_MEM:-48g} -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench 2>/dev/null \
      | grep '"metric"')
  if [ -z "$line" ]; then
    echo "{\"side\":\"$side\",\"conf\":\"$conf\",\"round\":$round,\"bench\":null,\"error\":\"no metric line\"}" >> "$OUT"
    echo "[altjvm-conf] round $round side $side FAILED" >&2
  else
    echo "{\"side\":\"$side\",\"conf\":\"$conf\",\"round\":$round,\"bench\":$line}" >> "$OUT"
    echo "[altjvm-conf] round $round side $side done" >&2
  fi
}
: > "$OUT"
for r in $(seq 1 "$ROUNDS"); do
  if [ $((r % 2)) = 1 ]; then
    run_side A "$CONFA" "$r"; run_side B "$CONFB" "$r"
  else
    run_side B "$CONFB" "$r"; run_side A "$CONFA" "$r"
  fi
done
echo DONE >> "$OUT"
