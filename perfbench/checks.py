"""Output checks. Each check belongs to one op of the workload (a QA task,
sink or summary; a funnel stage); an op with a failing check counts as
failed. Checks read the files the program wrote, with no Spark.
"""
import glob
import hashlib
import json
import os
import re

try:  # about four times faster on the QA outputs; same canonical bytes
    import orjson

    def loads(line):
        return orjson.loads(line)

    def dumps_sorted(obj):
        return orjson.dumps(obj, option=orjson.OPT_SORT_KEYS)
except ImportError:
    loads = json.loads

    def dumps_sorted(obj):
        return json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=False).encode()

QA_TASKS = ("bbox_2d_size", "cam_obj_distance", "cam_obj_rel_dist", "obj_obj_distance",
            "obj_obj_rel_pos", "object_2d_size", "object_3d_size", "object_count",
            "object_count_2d")
QA_DATASET = "bench"

# The reference corpus's dataset mix the generator targets: share of frames,
# mean 3D and 2D boxes per frame. "hypersim" is the tail above the 64-box
# pair cap. Tolerances: 1 point of frame share, 5% of a mean.
MIX = {
    "objectron": (0.30, 1.0, 0.0),
    "matterport": (0.20, 5.0, 5.0),
    "sunrgbd": (0.20, 8.5, 8.5),
    "taskonomy": (0.11, 23.0, 23.0),
    "coco": (0.18, 0.0, 7.0),
    "hypersim": (0.01, 78.0, 0.0),
}
SHARE_TOL, MEAN_TOL, PAIR_CAP = 0.01, 0.05, 64

# CorpusDemo's committed copies=32 funnel (throughput_corpus.json): replicas
# are exact duplicates, so input and quality scale with the copy count and
# every later stage keeps one representative per document.
FUNNEL_PER_COPY = {"input": 5000, "quality": 2201}
FUNNEL_FIXED = {"exact": 2197, "near": 1909, "decon": 1889, "lm": 1842, "sampled": 960,
                "budget_selected": 569, "packs": 20}


class Ops:
    """Failure messages per op; an op with none passed."""

    def __init__(self, names):
        self.failures = {n: [] for n in names}

    def check(self, op, ok, msg):
        if not ok:
            self.failures[op].append(msg)

    @property
    def attempted(self):
        return len(self.failures)

    @property
    def failed(self):
        return sum(1 for v in self.failures.values() if v)

    def messages(self):
        return [f"{op}: {m}" for op, ms in self.failures.items() for m in ms]


def json_lines(directory):
    for path in sorted(glob.glob(os.path.join(directory, "**", "part-*.json"), recursive=True)):
        with open(path, "rb") as fh:
            for line in fh:
                if line.strip():
                    yield loads(line)


def canonical(row):
    """A row as sorted-key JSON, without its input-file path (which names
    the run's directory and Spark's per-job file names)."""
    meta = dict(row.get("metadata", {}))
    meta.pop("source_file", None)
    return dumps_sorted(dict(row, metadata=meta))


def fingerprint(lines):
    return hashlib.sha256(b"\n".join(sorted(lines))).hexdigest()


def corpus_digest(directory):
    """Content digest of a written corpus, independent of Spark's per-job
    file-name ids: each file is keyed by its partition path and part number."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(directory, "*", "*", "part-*.json"))):
        rel = os.path.relpath(path, directory)
        key = re.sub(r"part-(\d+)-.*$", r"part-\1", rel)
        with open(path, "rb") as fh:
            h.update(key.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_mix(frames, ops):
    n = len(frames)
    for ds, (share, mean3, mean2) in MIX.items():
        sel = [f for f in frames if f["dataset"] == ds]
        ops.check("corpus", abs(len(sel) / max(n, 1) - share) <= SHARE_TOL,
                  f"{ds} frame share {len(sel)}/{n} not within {SHARE_TOL} of {share}")
        for key, want in (("bounding_boxes_3d", mean3), ("bounding_boxes_2d", mean2)):
            got = sum(len(f.get(key) or []) for f in sel) / max(len(sel), 1)
            ops.check("corpus", abs(got - want) <= MEAN_TOL * max(want, 1.0),
                      f"{ds} mean {key} {got:.2f} not within {MEAN_TOL:.0%} of {want}")
    tail = [f for f in frames if f["dataset"] == "hypersim"]
    ops.check("corpus", tail and all(len(f["bounding_boxes_3d"]) > PAIR_CAP for f in tail),
              f"tail frames must carry more than {PAIR_CAP} boxes")


def check_qa(work, outputs, expected):
    """qa_frames: generator determinism and mix, then per task contiguous
    unique ids, known image ids, valid multiple-choice letters and, for a
    recorded seed, exact counts and content fingerprints; the combined
    output equals the union of the task outputs and the summary agrees."""
    ops = Ops(("corpus",) + QA_TASKS + ("combined", "summary"))
    corpora = sorted(glob.glob(os.path.join(work, "corpus_[0-9]*")))
    digests = {corpus_digest(c) for c in corpora}
    ops.check("corpus", len(corpora) > 1 and len(digests) == 1,
              f"{len(corpora)} set-up writes of one seed gave {len(digests)} distinct corpora")
    frames = list(json_lines(corpora[-1]))
    image_ids = {f["image_id"] for f in frames}
    check_mix(frames, ops)
    if expected:
        ops.check("corpus", digests == {expected["corpus"]}, "corpus digest differs from recorded")

    out = os.path.join(work, "qa_out")
    counts, prints = {}, {}
    for task in QA_TASKS:
        rows = list(json_lines(os.path.join(out, f"{QA_DATASET}_{task}_qa")))
        counts[task] = len(rows)
        ids = [r["id"] for r in rows]
        want = {f"{QA_DATASET}_{task}_{i:06d}" for i in range(len(rows))}
        ops.check(task, len(set(ids)) == len(ids) and set(ids) == want,
                  "ids are not contiguous and unique")
        unknown = sum(1 for r in rows if r["metadata"].get("image_id") not in image_ids)
        ops.check(task, unknown == 0, f"{unknown} rows name an image_id not in the corpus")
        bad_mc = 0
        for r in rows:
            opts = r.get("options")
            if opts is not None:
                a = r["answer"]
                if not (len(a) == 1 and 0 <= ord(a) - ord("A") < len(opts)):
                    bad_mc += 1
        ops.check(task, bad_mc == 0, f"{bad_mc} multiple-choice answers do not index their options")
        ops.check(task, counts[task] == outputs["counts"].get(task),
                  f"{counts[task]} rows written, program reported {outputs['counts'].get(task)}")
        prints[task] = fingerprint(canonical(r) for r in rows)
        if expected:
            ops.check(task, counts[task] == expected["counts"][task],
                      f"{counts[task]} rows, recorded {expected['counts'][task]}")
            ops.check(task, prints[task] == expected["fingerprints"][task],
                      "content fingerprint differs from recorded")

    by_task = {}
    for r in json_lines(os.path.join(out, f"{QA_DATASET}_all_qa_pairs")):
        by_task.setdefault(r.pop("task_type", None), []).append(canonical(r))
    ops.check("combined", sum(map(len, by_task.values())) == sum(counts.values()),
              "combined rows differ from the sum of per-task rows")
    for task in QA_TASKS:
        ops.check("combined", fingerprint(by_task.get(task, [])) == prints[task],
                  f"combined rows of {task} differ from its own output")

    summary = {r["task_type"]: r["total_questions"]
               for r in json_lines(os.path.join(out, f"{QA_DATASET}_summary"))}
    ops.check("summary", summary == counts, f"summary totals {summary} differ from {counts}")
    return ops, {"corpus": digests.pop() if len(digests) == 1 else None,
                 "counts": counts, "fingerprints": prints}


def check_curate(work, outputs, copies, expected):
    """curate_docs: funnel counts equal CorpusDemo's committed figures,
    kept tokens stay within each source's target, and the exported shards
    hold exactly the selected documents."""
    import pyarrow.parquet as pq
    funnel = outputs["funnel"]
    want = {k: v * copies for k, v in FUNNEL_PER_COPY.items()}
    want.update(FUNNEL_FIXED)
    ops = Ops(tuple(want) + ("export",))
    for stage, n in want.items():
        ops.check(stage, funnel.get(stage) == n, f"{funnel.get(stage)} rows, expected {n}")
    for b in outputs["budget"]:
        ops.check("budget_selected", b["kept_tokens"] <= b["target_tokens"],
                  f"{b['source']} keeps {b['kept_tokens']} tokens over target {b['target_tokens']}")

    files = sorted(glob.glob(os.path.join(work, "export", "*.parquet")))
    table = pq.ParquetDataset(files).read() if files else None
    rows = table.num_rows if table is not None else 0
    ops.check("export", rows == funnel.get("budget_selected"),
              f"{rows} exported rows, {funnel.get('budget_selected')} selected")
    ops.check("export", len(files) == outputs["shards"], "shard count differs from the program's")
    ids = table.column("doc_id").to_pylist() if table is not None else []
    ops.check("export", len(set(ids)) == len(ids), "exported doc_ids repeat")
    if table is not None:
        kept = {}
        for src, nt in zip(table.column("source").to_pylist(), table.column("n_tokens").to_pylist()):
            kept[src] = kept.get(src, 0) + nt
        ops.check("export", kept == {b["source"]: b["kept_tokens"] for b in outputs["budget"]},
                  "exported tokens per source differ from the budget leg's")
    print_ = fingerprint(str(i).encode() for i in ids)
    if expected:
        ops.check("export", print_ == expected["export"], "exported doc_ids differ from recorded")
    return ops, {"export": print_}
