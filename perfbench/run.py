#!/usr/bin/env python3
"""Run one benchmark workload against the graft library and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 24 --trace 0

The first run compiles the library together with the harness (perfbench/
build.sbt) and caches the build by source hash under perfbench/target/.
Generated inputs are cached per seed under perfbench/target/work/. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. ``python3 perfbench/run.py --selftest``
runs the statistics self-test.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
BUILD_STAMP = os.path.join(TARGET, "bench-build.json")
JVM_TIMEOUT_S = 170
CACHED_SEEDS = 12  # generated input sets kept per workload
HEAP = "8g"  # the driver heap the library's own build runs with

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source hash; returns the runtime classpath."""
    digest = source_hash()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as fh:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                           stderr=fh, text=True, timeout=600)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        die("build failed, see %s" % log)
    classpath = lines[-1].strip()
    # the generators may have changed with the sources: drop cached inputs
    shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    return classpath


def evict_inputs(workload, seed):
    """Keep the most recent CACHED_SEEDS input sets of a workload."""
    d = os.path.join(WORK, "inputs")
    if not os.path.isdir(d):
        return
    mine = "%s-seed%d" % (workload, seed)
    sets = [os.path.join(d, n) for n in os.listdir(d)
            if n.startswith(workload + "-seed") and n != mine]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[CACHED_SEEDS - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def run_jvm(args, classpath, nproc):
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    out = os.path.join(WORK, "result-%s-%d-%d.json" % (args.workload, args.seed, args.trace))
    if os.path.exists(out):
        os.remove(out)
    log = os.path.join(WORK, "logs", "%s-%d-%d.log" % (args.workload, args.seed, args.trace))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP, "-Xss4m", "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--out", out, "--nproc", str(nproc)]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("benchmark JVM timed out, see %s" % log, 1)
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        die("benchmark JVM failed (exit %d), see %s\n%s" % (code, log, tail), 1)
    with open(out) as fh:
        return json.load(fh)


def e2e_metrics(workload, r):
    """The end-to-end metrics of BENCHMARK.json, plus the workload's own
    named figures for the report."""
    s = r["samples"]
    sc = r["scalars"]
    ops = s["op_s"]
    m = {"setup_s": sc["setup_s"],
         "throughput": sum(s["items"]) / sum(ops),
         "op_p50_ms": stats.median(ops) * 1e3}
    o = stats.summary(ops)
    w = stats.summary(s["write_s"])
    if workload == "etl_batch":
        named = [("etl_rows_per_s", m["throughput"], "records/s",
                  "%d records over n=%d deliveries" % (sum(s["items"]), len(ops))),
                 ("etl_delivery_p50_s", o["p50"], "s", "n=%d deliveries" % o["n"]),
                 ("etl_publish_p50_s", w["p50"], "s", "company-year upsert and publish, n=%d" % w["n"])]
        if o["tail"] is not None:
            named += [("etl_delivery_%s_s" % stats.fmt_p(o["tail_p"]), o["tail"], "s", "n=%d" % o["n"])]
    else:
        named = [("dedup_docs_per_s", m["throughput"], "docs/s",
                  "%d docs over n=%d passes" % (sum(s["items"]), len(ops))),
                 ("dedup_pass_p50_s", o["p50"], "s", "n=%d passes" % o["n"]),
                 ("dedup_write_p50_s", w["p50"], "s", "output sink call, n=%d" % w["n"])]
    named += [("setup_s", m["setup_s"], "s",
               "JVM start to the first timed operation, less generation, n=1"),
              ("peak_rss_mb", sc["peak_rss_mb"], "MB", "VmHWM after generation")]
    if "warm_setup_s" in s:
        named += [("warm_setup_s", stats.median(s["warm_setup_s"]), "s",
                   "new session and registration in the warm JVM, n=%d" % len(s["warm_setup_s"]))]
    return m, named


def layer_metrics(r):
    """Per-layer metrics of the traced phase, plus the tracing overhead:
    the traced phase's median operation time minus the untraced one's."""
    s = r["samples"]
    m = dict(r["layers"])
    untraced = stats.median(s["op_s"]) * 1e3
    traced = stats.median(s["traced.op_s"]) * 1e3
    m["trace.overhead_ms"] = traced - untraced
    m["trace.overhead_ratio"] = traced / untraced
    m["core.persisted_bytes_end"] = r["scalars"]["persisted_bytes_end"]
    m["core.warm_setup_s"] = stats.median(s["warm_setup_s"])
    m["core.peak_rss_mb"] = r["scalars"]["peak_rss_mb"]
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        stats.selftest()
        return
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        die("run from the repository root (no BENCHMARK.json here)")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("library sources (src/main/scala/graft) not found under %s" % ROOT)
    with open(bench_path) as fh:
        bench = json.load(fh)
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    with open(os.path.join(HERE, "workloads.json")) as fh:
        config = json.load(fh)
    names = sorted(config["workloads"])
    if args.workload not in names:
        die("unknown workload %r (have %s)" % (args.workload, ", ".join(names)))

    load_start = os.getloadavg()
    classpath = build()
    nproc = len(os.sched_getaffinity(0))
    evict_inputs(args.workload, args.seed)
    t0 = time.time()
    r = run_jvm(args, classpath, nproc)
    wall = time.time() - t0

    info = dict(r["info"])
    info.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "wall_s": round(wall, 1),
                 "loadavg_start": " ".join("%.2f" % x for x in load_start),
                 "loadavg_end": " ".join("%.2f" % x for x in os.getloadavg())})
    print("[env] " + json.dumps(info, sort_keys=True))
    for f in r["failures"]:
        print("[fail] " + f)

    e2e, named = e2e_metrics(args.workload, r)
    for name, value, unit, detail in named:
        print("[%s] %s = %.6g %s (%s)" % (args.workload, name, value, unit, detail))
    print("[%s] operations: attempted=%d failed=%d" % (args.workload, r["attempted"], r["failed"]))

    if args.trace:
        values = layer_metrics(r)
        wanted = bench["per_layer"]
    else:
        values = e2e
        wanted = bench["end_to_end"]
    metrics = {}
    missing = []
    for w in wanted:
        v = values.get(w["name"])
        if v is None or v != v:
            missing.append(w["name"])
        else:
            metrics[w["name"]] = {"value": v, "unit": w["unit"]}
    if args.trace:
        for k in sorted(values):
            print("[%s] layer %s = %.6g" % (args.workload, k, values[k]))
    for k in missing:
        print("[%s] metric %s was not measured" % (args.workload, k))
    correct = r["failed"] == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
