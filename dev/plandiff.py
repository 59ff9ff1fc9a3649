#!/usr/bin/env python3
"""Compare two `graft.DevExplain` dumps query by query.

Each dump is the output of `sbt "runMain graft.DevExplain [queries...]"`:
one `===== <name> =====` block per query. sbt's `[info] ` prefix is
stripped, and interleaved `[error]`/`[warn]`/`[success]` lines (Spark's
stderr log, build chatter) are dropped. Before comparing, each plan is
normalized so that two runs of the same code compare equal:

  expression ids   name#123 / name#123L     -> name#N
  plan ids         plan_id=123              -> plan_id=N
  RDD ids          MapPartitionsRDD[123]    -> MapPartitionsRDD[N]
  lambda classes   $$Lambda$123/0x7f..@ab12 -> $$Lambda$N
  object hashes    UnsafeArrayData@da2cb369 -> UnsafeArrayData@H
  lambda variables lambda x_15              -> lambda x_N
  source lines     Checkpoints.scala:52     -> Checkpoints.scala:N
  checkout paths   file:/a/b/src/test/...   -> file:<checkout>/src/test/...
  temp-dir suffix  /tmp/graft_q129_orc_123  -> /tmp/graft_q129_orc_N

The last two let dumps taken from two checkouts (say, the parent commit
cloned into a scratch directory) and two JVMs compare equal.

Prints one line per query, `identical` or `differs` followed by a
unified diff of the normalized plans, and the queries present in only one
dump. Exit status 1 when any query differs or is missing from one side.

  python3 dev/plandiff.py before.txt after.txt
  python3 dev/plandiff.py before.txt after.txt --save plans/x
      (also writes <query>_before.txt / <query>_after.txt, normalized,
       for every query that differs)
"""
import argparse
import difflib
import os
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
NOISE = ("[error]", "[warn]", "[success]")
RULES = [
    (re.compile(r"\$\$Lambda\$?\d*/0x[0-9a-f]+(@[0-9a-f]+)?"), "$$Lambda$N"),
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(?<=[A-Za-z0-9_$])@[0-9a-f]{4,16}\b"), "@H"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"(\.(?:scala|java)):\d+"), r"\1:N"),
    (re.compile(r"file:\S*?/src/(main|test)/"), r"file:<checkout>/src/\1/"),
    (re.compile(r"(/tmp/[^\s\],/]*?)_\d+\b"), r"\1_N"),
]


def normalize(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line


def read_dump(path):
    """{query: [normalized plan lines]} in dump order."""
    plans, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith(NOISE):
                continue
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif line == "[info]":
                line = ""
            m = HEADER.match(line)
            if m:
                cur = m.group(1)
                plans[cur] = []
            elif cur is not None:
                plans[cur].append(normalize(line))
    # sbt's own trailer ("running (fork) ...", "Total time") never lands
    # inside a block, but blank tail lines may; trim them per block
    for lines in plans.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return plans


def main(argv=None):
    ap = argparse.ArgumentParser(
        description="per-query diff of two DevExplain dumps, ids normalized")
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--save", metavar="DIR",
                    help="write normalized before/after plans of differing queries")
    args = ap.parse_args(argv)
    before, after = read_dump(args.before), read_dump(args.after)
    differing = 0
    for q in sorted(set(before) | set(after)):
        if q not in after:
            print(f"{q}: only in {args.before}")
            differing += 1
            continue
        if q not in before:
            print(f"{q}: only in {args.after}")
            differing += 1
            continue
        b, a = before[q], after[q]
        if b == a:
            print(f"{q}: identical")
            continue
        differing += 1
        print(f"{q}: differs")
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            b, a, f"{q} (before)", f"{q} (after)", lineterm=""))
        if args.save:
            os.makedirs(args.save, exist_ok=True)
            for tag, lines in (("before", b), ("after", a)):
                with open(os.path.join(args.save, f"{q}_{tag}.txt"), "w",
                          encoding="utf-8") as f:
                    f.writelines(l + "\n" for l in lines)
    print(f"{len(set(before) | set(after)) - differing} identical, "
          f"{differing} differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
