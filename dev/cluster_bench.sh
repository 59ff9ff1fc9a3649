#!/bin/bash
# Round-12 bench leg: the heavy queries under local-cluster[2,16,12288]
# — two REAL executor JVMs behind the standalone master, so per-query
# seconds include executor launch, task serialization, remote shuffle
# fetch and cross-JVM broadcast, all invisible in local[N] where tasks
# share the driver's heap. Correctness crossed the executor boundary in
# dryrun leg 6 (counts identical, mid-CC SIGKILL survived); this is the
# TIMING side of that axis. Results are a separate artifact (Bench
# records "master"): every wall embeds the serialization delta, so only
# the paired local leg below is comparable. The master reaches Bench
# through SPARK_GRAFT_EXTRA_CONF, which is applied after its defaults.
#
# usage: dev/cluster_bench.sh [sfDir] [out.jsonl] [q1,q2,...]
set -u
SFDIR=${1:-/root/testdata/sf0.1}
OUT=${2:-evidence/CLUSTER_BENCH_r12.jsonl}
# default set: the top-10 heavies of the round-11 driver bench medians
QS=${3:-q76_neardup_components,q149_dedup_keep_best,q94_neardup_dedup,q192_kcore,q196_stream_psi_drift,q186_stream_histogram_quantiles,q160_stream_full_outer_join,q181_item_cooccurrence,q153_bigram_nll,q185_rrf_fusion}

cd "$(dirname "$0")/.." || exit 1
SUBMIT=$(command -v spark-submit || echo /opt/spark/bin/spark-submit)
[ -x "$SUBMIT" ] || { echo "spark-submit not found" >&2; exit 1; }
echo "[cluster_bench] sbt package" >&2
sbt -batch package >/dev/null 2>&1 || { echo "package failed" >&2; exit 1; }
JAR=$(ls target/scala-2.13/*.jar | head -1)
[ -n "$JAR" ] || { echo "no jar under target/scala-2.13" >&2; exit 1; }

run_leg() { # run_leg <master-label> <master-string> <cpus>
  local label=$1 master=$2 cpus=$3
  echo "[cluster_bench] leg $label" >&2
  local line
  line=$(SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="$cpus" \
    SPARK_GRAFT_EXTRA_CONF="spark.master=$master" SPARK_GRAFT_BENCH_ONLY="$QS" \
    SPARK_GRAFT_BENCH_RUNS=${SPARK_GRAFT_BENCH_RUNS:-3} \
    "$SUBMIT" --class graft.Bench --master "$master" \
      --driver-memory 16g \
      --conf spark.ui.enabled=false \
      "$JAR" 2>"/tmp/cluster_bench_$label.err" | grep '"metric"')
  if [ -z "$line" ]; then
    echo "[cluster_bench] leg $label FAILED (see /tmp/cluster_bench_$label.err)" >&2
    echo "{\"leg\":\"$label\",\"bench\":null,\"error\":\"no metric line\"}" >> "$OUT"
    return 1
  fi
  echo "{\"leg\":\"$label\",\"bench\":$line}" >> "$OUT"
}

: > "$OUT"
# single-JVM reference leg FIRST, same subset, same protocol, same hour —
# the local-cluster delta is only interpretable against a paired local[32]
# read, not against the full-suite artifact from another day
run_leg "local32" "local[32]" 32
run_leg "cluster2x16" "local-cluster[2,16,12288]" 32
echo DONE >> "$OUT"
echo "[cluster_bench] wrote $OUT" >&2
