#!/usr/bin/env python3
"""Compare two PlanDump snapshot sets after stripping run-local counters.

Usage: python3 tools/plandiff.py <dirA> <dirB> [query ...]

Each directory holds the files `graft.PlanDump <sfDir> <outDir> <tag> <query>...`
writes (`<query>_<tag>.txt`); files pair up by query name, so the two sets may
carry different tags. Before comparing, every plan is normalized by `normalize`:
the ids and counters below change from run to run (or with the number of plans
built earlier in the same JVM) without any change in the plan itself.

  - expression ids          vec_id#1059L         -> vec_id#L
  - plan_id= counters       [plan_id=412]        -> [plan_id=N]
  - whole-stage codegen ids *(3) / [codegen id : 3] -> *(N) / [codegen id : N]
  - AQE query-stage numbers ShuffleQueryStage 4  -> ShuffleQueryStage N
  - lambda variable suffixes lambda x_7          -> lambda x
  - RDD ids                 MapPartitionsRDD[154] -> MapPartitionsRDD[N]
  - object identity hashes  LongVecSum$@2f726cf4 -> LongVecSum$@H

Prints a unified diff per differing query (and any query present on one side
only) and exits 1 if anything differs, 0 otherwise.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"\b(\w*QueryStage) \d+"), r"\1 N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w\$?)@[0-9a-f]{4,8}\b"), r"\1@H"),
]

SNAPSHOT = re.compile(r"^(?P<query>.+)_(?P<tag>[^_]+)\.txt$")


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def snapshots(d):
    out = {}
    for f in sorted(os.listdir(d)):
        m = SNAPSHOT.match(f)
        if m:
            out[m.group("query")] = os.path.join(d, f)
    return out


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = snapshots(argv[0]), snapshots(argv[1])
    names = argv[2:] or sorted(set(a) | set(b))
    differing = []
    for name in names:
        if name not in a or name not in b:
            side = argv[0] if name not in a else argv[1]
            print(f"[plandiff] {name}: no snapshot in {side}")
            differing.append(name)
            continue
        with open(a[name]) as fa, open(b[name]) as fb:
            la = normalize(fa.read()).splitlines(keepends=True)
            lb = normalize(fb.read()).splitlines(keepends=True)
        if la != lb:
            differing.append(name)
            sys.stdout.writelines(difflib.unified_diff(la, lb, a[name], b[name], n=2))
    print(f"[plandiff] {len(names) - len(differing)} equal, {len(differing)} differ"
          + (f": {' '.join(differing)}" if differing else ""))
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
