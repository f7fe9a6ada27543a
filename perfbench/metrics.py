"""Arithmetic of the benchmark: end-to-end figures from the untraced
iterations, and per-layer figures from the spans and per-stage counts of
the traced ones. The JVM harness records only raw times and counts.
"""
import statistics

MB = 1024.0 * 1024.0

# Layers a call into the program is filed under. Each typed span wraps one
# call; grouping spans and iteration roots carry no layer of their own.
# Forcing plans ("plan") runs no jobs, so only its time is reported.
LAYERS = ("scan", "build", "execute", "write")


def unit(name):
    """Unit of a metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last == "jobs":
        return "count"
    if last in ("core_util", "skew"):
        return "ratio"
    if name == "items_per_s":
        return "1/s"
    return "MB" if name.endswith("_mb") else "s"


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"]))
            for c in children.get(s["id"], []))
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def core_util(task_s, busy_s, cores):
    """Share of the cores' time during a span that tasks ran."""
    return task_s / (busy_s * cores) if busy_s > 0 and cores > 0 else 0.0


def skew(stages):
    """Slowest-to-median task time in the stage that ran longest."""
    ran = [st for st in stages if st["task_ms"]]
    if not ran:
        return 0.0
    slowest = max(ran, key=lambda st: st["end_ms"] - st["start_ms"])
    return max(slowest["task_ms"]) / max(statistics.median(slowest["task_ms"]), 1.0)


def stage_totals(stages, cores, busy_s):
    task_s = sum(sum(st["task_ms"]) for st in stages) / 1000.0
    return {
        "task_s": task_s,
        "core_util": core_util(task_s, busy_s, cores),
        "shuffle_mb": sum(st["shuffle_write"] for st in stages) / MB,
        "spill_mb": sum(st["spill"] for st in stages) / MB,
        "skew": skew(stages),
    }


def end_to_end(record, items):
    """Medians over the untraced iterations and the set-up repetitions."""
    its = [it for it in record["iterations"] if not it["traced"]]
    wall = statistics.median(it["wall_s"] for it in its)
    return {
        "setup_s": statistics.median(r["session_s"] + r["stage_s"] for r in record["setup"]),
        "wall_s": wall,
        "items_per_s": items / wall,
        "executor_s": statistics.median(it["executor_s"] for it in its),
        "peak_heap_mb": max(it["heap_mb"] for it in its),
    }


def _iteration_spans(record, index):
    return [s for s in record["spans"] if s["iter"] == index]


def _traced(record):
    return [i for i, it in enumerate(record["iterations"]) if it["traced"]]


def per_layer_one(record, index):
    """Per-layer figures of one traced iteration."""
    iteration = record["iterations"][index]
    spans = _iteration_spans(record, index)
    selfs = self_times(spans)
    kind = {s["id"]: s["kind"] for s in spans}
    cores = record["cores"]
    out = {"plan.busy_s": sum(selfs[s["id"]] for s in spans if s["kind"] == "plan")}
    for layer in LAYERS:
        busy = sum(selfs[s["id"]] for s in spans if s["kind"] == layer)
        out[f"{layer}.busy_s"] = busy
        stages = [st for st in record["stages"] if kind.get(st["span"]) == layer]
        out[f"{layer}.jobs"] = sum(1 for j in record["job_spans"] if kind.get(j) == layer)
        for k, v in stage_totals(stages, cores, busy).items():
            out[f"{layer}.{k}"] = v
    out["write.out_mb"] = sum(st["out_bytes"] for st in record["stages"]
                              if kind.get(st["span"]) == "write") / MB
    out["jvm.gc_s"] = iteration["gc_s"]
    root = next(s for s in spans if s["kind"] == "iteration")
    out["trace.unattributed_s"] = selfs[root["id"]]
    out["trace.wall_s"] = iteration["wall_s"]
    return out


def per_layer(record):
    """Medians of the per-layer figures over the traced iterations, plus the
    set-up layers and the tracing overhead (traced wall minus the median
    untraced wall)."""
    its = record["iterations"]
    traced = [per_layer_one(record, i) for i in _traced(record)]
    out = {k: statistics.median(t[k] for t in traced) for k in traced[0]}
    untraced_wall = statistics.median(it["wall_s"] for it in its if not it["traced"])
    out["trace.overhead_s"] = out.pop("trace.wall_s") - untraced_wall
    out["session.busy_s"] = statistics.median(r["session_s"] for r in record["setup"])
    out["stage.busy_s"] = statistics.median(r["stage_s"] for r in record["setup"])
    out["warmup.busy_s"] = record["warmup_s"]
    return out


def span_report(record):
    """One row per span of the first traced iteration, in start order: its
    duration, self time, and the jobs and stage counts of it and its
    descendants."""
    spans = _iteration_spans(record, _traced(record)[0])
    selfs = self_times(spans)
    parent = {s["id"]: s["parent"] for s in spans}

    def under(span_id, target):
        while span_id:
            if span_id == target:
                return True
            span_id = parent.get(span_id, 0)
        return False

    rows = []
    for s in sorted(spans, key=lambda s: s["start_s"]):
        busy = s["end_s"] - s["start_s"]
        stages = [st for st in record["stages"] if under(st["span"], s["id"])]
        row = {"name": s["name"], "kind": s["kind"], "busy_s": busy, "self_s": selfs[s["id"]],
               "jobs": sum(1 for j in record["job_spans"] if under(j, s["id"]))}
        row.update(stage_totals(stages, record["cores"], busy))
        row["out_mb"] = sum(st["out_bytes"] for st in stages) / MB
        rows.append(row)
    return rows
