"""The repo's benchmark: one command that runs a named workload with a seed,
checks the outputs, and prints one JSON line with every metric.

    python3 perfbench/run.py --workload qa_frames --seed 1 --seconds 20 --trace 0

Run from the repo root. The first run compiles the program and the
harness into .bench_build/ (see build.py); every file a run writes goes to
perfbench/.work/<workload>/. `--trace 1` prints per-layer metrics instead
of end-to-end ones and writes the span table to perfbench/.work/<workload>/
trace.json. `--record 1` stores the run's output fingerprints for its seed
in perfbench/expected.json (do this only at a commit whose outputs are
known good). See perfbench/README.md for workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402

# Input size per workload, measured and warm-up: frames for qa_frames,
# replicas of the 5000-document table for curate_docs. The QA warm-up runs
# on a tenth of the corpus (its cold cost hardly depends on size); the
# funnel's one-task signal stage only reaches its compiled speed after a
# full-size pass.
SIZES = {"qa_frames": (500, 100), "curate_docs": (8, 8)}
JVM_HEAP = "2g"
TIME_LIMIT_S = 170
EXPECTED = os.path.join(HERE, "expected.json")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, args, work, deadline):
    """Runs the harness with the program's product session pinned to
    local[cores]; every temporary file stays under `work`."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # the session sizes its shuffles from the input directory: the staged inputs
    env.update(SPARK_GRAFT_CPUS=str(cores()), SPARK_GRAFT_SF_DIR=work, SPARK_LOCAL_DIRS=local)
    out = os.path.join(work, "record.json")
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={local}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--data", os.path.join(HERE, "data"),
            "--size", str(SIZES[args.workload][0]), "--warm-size", str(SIZES[args.workload][1]),
            "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(out) as fh:
        return json.load(fh)


def load_expected():
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            return json.load(fh)
    return {}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    deadline = time.monotonic() + TIME_LIMIT_S

    root = os.getcwd()
    try:
        classes = build.build(root, os.path.join(root, ".bench_build", "perfbench"))
    except build.BuildError as e:
        raise SystemExit(f"build failed: {e}")
    # the build may take long the first time; the run itself gets its own limit
    deadline = max(deadline, time.monotonic() + TIME_LIMIT_S - 10)

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = run_jvm(classes, args, work, deadline)

    # recorded outputs: per seed for the generated frames, one for the
    # funnel, whose outputs do not depend on the seed
    size = SIZES[args.workload][0]
    expected_all = load_expected()
    if args.workload == "qa_frames":
        key = f"qa_frames/{size}/{args.seed}"
        ops, prints = checks.check_qa(work, record["outputs"], expected_all.get(key))
        items = size
    else:
        key = f"curate_docs/{size}"
        ops, prints = checks.check_curate(work, record["outputs"], size, expected_all.get(key))
        items = record["outputs"]["funnel"]["input"]
    checked = key in expected_all
    for m in ops.messages():
        print(f"[perfbench] check failed: {m}", file=sys.stderr)
    if args.record and ops.failed == 0:
        expected_all[key] = prints
        with open(EXPECTED, "w") as fh:
            json.dump(expected_all, fh, indent=1, sort_keys=True)
            fh.write("\n")

    its = record["iterations"]
    print(f"[perfbench] {args.workload} seed={args.seed} items={items} setup reps="
          f"{len(record['setup'])} warm-up {record['warmup_s']:.2f} s, iterations "
          + ", ".join(f"{it['wall_s']:.2f}{'t' if it['traced'] else ''}" for it in its)
          + f" s; recorded outputs {'checked' if checked else 'absent'} for {key}",
          file=sys.stderr)
    if args.trace:
        values = metrics.per_layer(record)
        rows = metrics.span_report(record)
        with open(os.path.join(work, "trace.json"), "w") as fh:
            json.dump({"per_layer": values, "spans": rows}, fh, indent=1)
        for r in rows:
            print(f"[perfbench] span {r['name']:<32} {r['kind']:<9} busy {r['busy_s']:7.3f} s "
                  f"self {r['self_s']:7.3f} s jobs {r['jobs']:4d} task {r['task_s']:7.2f} s "
                  f"util {r['core_util']:5.2f} shuffle {r['shuffle_mb']:7.1f} MB "
                  f"skew {r['skew']:5.2f}", file=sys.stderr)
    else:
        values = metrics.end_to_end(record, items)
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": metrics.unit(k)} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
