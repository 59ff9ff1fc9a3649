#!/usr/bin/env python3
"""Run a workload on several seeds and report each end-to-end metric's
median and spread (interquartile range over the median, as
statistics.quantiles(values, n=4) gives the quartiles).

Usage (from the repository root):
    python3 perfbench/spread.py --workload etl_batch --seeds 1-10 [--seconds 24]
"""

import argparse
import json
import statistics
import subprocess
import sys


def seeds_arg(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values = {}
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        print("seed %d exit %d correct %s %s" % (seed, p.returncode, last["correct"], json.dumps(
            {k: round(v["value"], 3) for k, v in last["metrics"].items()})), flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med
        print("%s %s median %.4g spread %.3f bound %.2f%s" % (
            args.workload, k, med, spread, bounds[k],
            "" if spread <= bounds[k] else "  OVER BOUND"))


if __name__ == "__main__":
    sys.exit(main())
