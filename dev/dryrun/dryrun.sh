#!/usr/bin/env bash
# The DEPLOY.md dry run as a repeatable harness (PLANS.md round 10): build
# the library jar, generate scaled data through it, run a genuinely
# separate user application (dev/dryrun/userapp) through spark-submit with
# GraftConf's settings, and assert the outputs a user should see. Six
# legs: batch corpus pipeline, streaming, dirty-source ingest, nightly
# delivery loop, a SQL-only adopter composing the graft_* functions, and
# (round 11) the same corpus pipeline under a REAL multi-executor master
# (local-cluster) with one executor SIGKILLed mid-connectedComponents —
# the fault-tolerance claim behind spark.graft.reliableCheckpoint, which
# every earlier leg ran single-JVM and therefore never actually tested.
# Exit non-zero on any leg failing its assertions.
#
# usage: dev/dryrun/dryrun.sh [srcSfDir] [scaleFactor]
#   srcSfDir     source testdata dir   (default /root/testdata/sf0.1)
#   scaleFactor  MakeScale factor      (default 10 -> ~sf1)
set -eu
SRC=${1:-/root/testdata/sf0.1}
FACTOR=${2:-10}
REPO=$(cd "$(dirname "$0")/../.." && pwd)
RUN=$(mktemp -d /tmp/graft_dryrun_XXXX)
trap 'rm -rf "$RUN"' EXIT
fail() { # keep the run dir (stderr logs) for diagnosis on failure
  trap - EXIT
  echo "[dryrun] FAIL: $* (logs kept at $RUN)" >&2
  exit 1
}
# resolve spark-submit to an absolute path FIRST: deriving the jars dir
# from a bare PATH-resolved command yields './jars' (round-10 ADVICE)
SUBMIT=$(command -v "${SPARK_SUBMIT:-/opt/spark/bin/spark-submit}") \
  || fail "spark-submit not found (set SPARK_SUBMIT)"
export SPARK_JARS_DIR=${SPARK_JARS_DIR:-$(dirname "$(dirname "$SUBMIT")")/jars}
[ -d "$SPARK_JARS_DIR" ] \
  || fail "SPARK_JARS_DIR=$SPARK_JARS_DIR does not exist (set it explicitly)"

echo "[dryrun] 1/9 sbt package (library jar)" >&2
(cd "$REPO" && sbt -batch package >/dev/null 2>&1) || fail "sbt package"
JAR=$(ls "$REPO"/target/scala-2.13/etlscriptspark_*.jar | head -1)
[ -f "$JAR" ] || fail "library jar missing"

echo "[dryrun] 2/9 MakeScale $SRC -> factor $FACTOR (through the jar)" >&2
"$SUBMIT" --class graft.MakeScale --master 'local[16]' --driver-memory 16g \
  --conf spark.ui.enabled=false "$JAR" "$SRC" "$RUN/data" "$FACTOR" \
  >/dev/null 2>&1 || fail "MakeScale"

echo "[dryrun] 3/9 build the user app (own sbt project, jar in lib/)" >&2
cp -r "$REPO/dev/dryrun/userapp" "$RUN/userapp"
mkdir -p "$RUN/userapp/lib" && cp "$JAR" "$RUN/userapp/lib/"
(cd "$RUN/userapp" && sbt -batch package >/dev/null 2>&1) || fail "user app build"
APP=$(ls "$RUN/userapp"/target/scala-2.13/*.jar | head -1)

# GraftConf's settings for this shape (32 local cores), plus the
# checkpoint dir its stderr note prescribes for reliableCheckpoint
CONFS=(--conf spark.graft.reliableCheckpoint=true
       --conf spark.checkpoint.dir="$RUN/ckpt"
       --conf spark.sql.adaptive.enabled=true
       --conf spark.sql.adaptive.skewJoin.enabled=true
       --conf spark.sql.shuffle.partitions=64
       --conf spark.sql.adaptive.coalescePartitions.initialPartitionNum=64
       --conf spark.sql.extensions=graft.GraftExtensions
       --conf spark.ui.enabled=false)
submit() { # submit <class> <args...>
  local cls=$1; shift
  "$SUBMIT" --class "$cls" --master 'local[32]' --driver-memory 24g \
    --jars "$RUN/userapp/lib/$(basename "$JAR")" "${CONFS[@]}" "$APP" "$@" \
    2>"$RUN/$cls.err"
}

echo "[dryrun] 4/9 leg 1: corpus pipeline (clean -> dedup -> publish -> index -> delivery)" >&2
OUT1=$(submit CorpusPipeline "$RUN/data" "$RUN/out" | grep '\[pipeline\]') || fail "CorpusPipeline"
echo "$OUT1" | grep -q 'nearDupClean=[1-9]' || fail "leg1: no cleaned corpus rows: $OUT1"
echo "$OUT1" | grep -Eq 'matches_indexed=[1-9]' || fail "leg1: index never matched: $OUT1"
ls "$RUN/ckpt" | grep -q . || fail "leg1: reliable checkpoints missing from spark.checkpoint.dir"

echo "[dryrun] 5/9 legs 2-3: streaming (multi-batch, rocksdb) + dirty-source ingest" >&2
OUT2=$("$SUBMIT" --class StreamingLeg --master 'local[16]' --driver-memory 16g \
  --jars "$RUN/userapp/lib/$(basename "$JAR")" \
  --conf spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider \
  --conf spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows=false \
  --conf spark.graft.streaming.maxFilesPerTrigger=8 \
  --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
  "$APP" "$RUN/data" "$RUN/out_stream" 2>"$RUN/stream.err" | grep '\[stream\]') || fail "StreamingLeg"
# exactly-once-by-key through real micro-batches: rows == distinct keys
echo "$OUT2" | grep -Eq 'rows=([1-9][0-9]*) distinctKeys=\1 ' || fail "leg2: upsert not exactly-once (or empty): $OUT2"
FIX="$RUN/fixtures"; mkdir -p "$FIX"
cp "$REPO"/src/test/resources/fixtures/{po_report.csv,supplier_sheets.xlsx,supplier_sheets.xls,invoice_table.pdf,invoice_records.json} "$FIX/"
OUT3=$("$SUBMIT" --class IngestLeg --master 'local[8]' --driver-memory 8g \
  --jars "$RUN/userapp/lib/$(basename "$JAR")" --conf spark.ui.enabled=false \
  "$APP" "$FIX" 2>"$RUN/ingest.err" | grep '\[ingest\]') || fail "IngestLeg"
echo "$OUT3" | grep -q 'csv rows=12' || fail "leg3: csv: $OUT3"
echo "$OUT3" | grep -q 'pdf grid rows=6' || fail "leg3: pdf: $OUT3"

echo "[dryrun] 6/9 leg 4: nightly delivery loop (re-sends must drop against the index)" >&2
OUT4=$("$SUBMIT" --class DeliveryLoop --master 'local[16]' --driver-memory 16g \
  --jars "$RUN/userapp/lib/$(basename "$JAR")" \
  --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
  "$APP" "$RUN/data" "$RUN/out_loop" 2>"$RUN/loop.err" | grep '\[loop\]') || fail "DeliveryLoop"
[ "$(echo "$OUT4" | wc -l)" = 3 ] || fail "leg4: expected 3 deliveries: $OUT4"
# corpus must equal index (every kept doc indexed) on every day
echo "$OUT4" | grep -Ev 'corpus=([1-9][0-9]*) indexDocs=\1 secs' | grep -q . && fail "leg4: corpus != index (or empty): $OUT4"

echo "[dryrun] 7/9 leg 5: SQL-only adopter (graft_* composition in pure spark.sql)" >&2
OUT5=$("$SUBMIT" --class SqlLeg --master 'local[16]' --driver-memory 16g \
  --jars "$RUN/userapp/lib/$(basename "$JAR")" \
  --conf spark.sql.extensions=graft.GraftExtensions \
  --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
  "$APP" "$RUN/data" 2>"$RUN/sql.err" | grep '\[sql\]') || fail "SqlLeg"
echo "$OUT5" | grep -Eq 'kept=[1-9][0-9]* candPairs=[0-9]+ dups=[0-9]+' || fail "leg5: $OUT5"

echo "[dryrun] 8/9 leg 6: multi-executor (local-cluster[2,16]) + executor SIGKILL mid-CC" >&2
# Every leg above ran ONE JVM, where reliableCheckpoint's fault-tolerance
# story is untestable by construction (losing "an executor" kills the
# app). This leg runs leg 1's pipeline across two real executor JVMs and
# SIGKILLs one the moment the first reliable checkpoint lands — i.e.
# mid-connectedComponents, the exact window the checkpoint exists for.
# The standalone worker relaunches a fresh executor; lost tasks re-run;
# lost cached/lineage blocks recompute from the checkpoint files. Done =
# exit 0, a [pipeline] line whose dedup counts EQUAL leg 1's (executor
# boundaries must not change results), and driver-log proof the kill
# landed during the job.
MXC="$RUN/ckpt_mx"
# the submit runs in the background so the watcher can SCOPE its kill to
# this run's process tree: spark-submit/spark-class `exec` into the
# driver JVM (so $SUBMIT_PID IS the driver), and under local-cluster the
# in-process Worker forks executor JVMs as that driver's direct children.
# A bare `pgrep -f CoarseGrainedExecutorBackend` matches ANY executor on
# the box — on a shared dev host it could SIGKILL an unrelated job's
# executor and let this leg pass on false evidence (round-12 ADVICE).
# graphDriverMaxEdges=0 (round 13): this leg exists to kill an executor
# mid-DISTRIBUTED-CC; without the pin the small-graph driver fast path
# would skip the loop under test. Leg 1 runs the default (gated) config
# — the count-parity assertion then also covers driver≡distributed.
"$SUBMIT" --class CorpusPipeline --master 'local-cluster[2,16,12288]' \
  --driver-memory 8g \
  --jars "$RUN/userapp/lib/$(basename "$JAR")" \
  --conf spark.graft.reliableCheckpoint=true \
  --conf spark.graft.graphDriverMaxEdges=0 \
  --conf spark.checkpoint.dir="$MXC" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.shuffle.partitions=64 \
  --conf spark.sql.adaptive.coalescePartitions.initialPartitionNum=64 \
  --conf spark.sql.extensions=graft.GraftExtensions \
  --conf spark.ui.enabled=false \
  "$APP" "$RUN/data" "$RUN/out_mx" \
  >"$RUN/mx.out" 2>"$RUN/mx.err" & SUBMIT_PID=$!
(
  # watcher: first rdd-* checkpoint dir => CC iteration 1 just cut; kill
  # the newest executor JVM OF THIS RUN and record what was killed. If no
  # executor is a child of our driver yet, loop — killing nothing (and
  # failing the leg's killed_executor assert) beats killing a stranger.
  for _ in $(seq 1 1200); do
    # checkpoint layout: $MXC/<uuid>/rdd-<id>/part-NNNNN
    if [ -d "$MXC" ] && find "$MXC" -mindepth 2 -maxdepth 2 -name 'rdd-*' 2>/dev/null | grep -q .; then
      sleep 0.5
      EPID=$(pgrep -n -P "$SUBMIT_PID" -f CoarseGrainedExecutorBackend || true)
      if [ -n "$EPID" ]; then
        kill -9 "$EPID" && echo "$EPID" > "$RUN/killed_executor"
      fi
      break
    fi
    sleep 0.25
  done
) & WATCHER=$!
wait "$SUBMIT_PID" \
  || { kill "$WATCHER" 2>/dev/null || true; fail "leg6: CorpusPipeline under local-cluster (see mx.err)"; }
kill "$WATCHER" 2>/dev/null || true
OUT6=$(grep '\[pipeline\]' "$RUN/mx.out") \
  || fail "leg6: no [pipeline] line in mx.out"
[ -s "$RUN/killed_executor" ] || fail "leg6: watcher never killed an executor (fixture proved nothing)"
grep -Eq "Lost executor|ExecutorLostFailure|RPC client disassociated|worker lost" "$RUN/mx.err" \
  || fail "leg6: no executor-loss evidence in driver log — kill landed outside the job"
# results must survive the executor boundary AND the kill: compare the
# deterministic dedup counts against leg 1's single-JVM run
for k in nearDupClean exactDedup deliveryDrops deliveryKept; do
  V1=$(echo "$OUT1" | grep -oE "$k=[0-9]+" | head -1)
  V6=$(echo "$OUT6" | grep -oE "$k=[0-9]+" | head -1)
  [ -n "$V1" ] && [ "$V1" = "$V6" ] || fail "leg6: $k differs across masters: leg1 '$V1' vs leg6 '$V6'"
done

echo "[dryrun] 9/9 all assertions" >&2
printf '%s\n%s\n%s\n%s\n%s\n%s\n' "$OUT1" "$OUT2" "$OUT3" "$OUT4" "$OUT5" "$OUT6"
echo "[dryrun] PASS (all six legs; leg6 killed executor pid $(cat "$RUN/killed_executor"))" >&2
