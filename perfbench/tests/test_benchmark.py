"""Tests of the benchmark's own arithmetic and output checks; no Spark.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402
import metrics  # noqa: E402


def span(i, parent, start, end, kind="group", it=0, name=None):
    return {"id": i, "name": name or f"s{i}", "kind": kind, "parent": parent, "iter": it,
            "start_s": start, "end_s": end}


def stage(span_id, tasks, start=0, end=1, shuffle=0, spill=0, out=0):
    return {"span": span_id, "start_ms": start, "end_ms": end, "task_ms": tasks,
            "shuffle_read": 0, "shuffle_write": shuffle, "spill": spill, "out_bytes": out}


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [span(1, 0, 0.0, 10.0, "iteration"), span(2, 1, 1.0, 4.0),
                 span(3, 2, 2.0, 3.0, "build"), span(4, 1, 3.0, 6.0, "write")]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)  # children cover 1..6
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 3.0)

    def test_union_counts_overlap_once(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(metrics.union_length([]), 0.0)


class CountsTest(unittest.TestCase):
    def test_core_util(self):
        self.assertAlmostEqual(metrics.core_util(8.0, 4.0, 4), 0.5)
        self.assertEqual(metrics.core_util(1.0, 0.0, 4), 0.0)

    def test_skew_uses_longest_stage(self):
        stages = [stage(1, [10, 10, 100], 0, 50), stage(1, [10, 20, 30, 400], 0, 500)]
        self.assertAlmostEqual(metrics.skew(stages), 400 / 25)
        self.assertEqual(metrics.skew([stage(1, [])]), 0.0)

    def test_failed_frac_counts_ops_not_messages(self):
        ops = checks.Ops(("a", "b", "c", "d"))
        ops.check("a", False, "one")
        ops.check("a", False, "two")
        ops.check("b", True, "fine")
        ops.check("c", False, "three")
        self.assertEqual((ops.attempted, ops.failed), (4, 2))

    def test_per_layer_rolls_spans_into_layers(self):
        record = {
            "cores": 2,
            "warmup_s": 7.0,
            "setup": [{"session_s": 1.0, "stage_s": 0.5}, {"session_s": 3.0, "stage_s": 0.7}],
            "iterations": [{"traced": False, "wall_s": 9.0, "gc_s": 0.1, "executor_s": 12.0,
                            "heap_mb": 100.0},
                           {"traced": True, "wall_s": 10.0, "gc_s": 0.2, "executor_s": 13.0,
                            "heap_mb": 120.0}],
            "spans": [span(1, 0, 0.0, 10.0, "iteration", 1), span(2, 1, 0.0, 4.0, "build", 1),
                      span(3, 1, 4.0, 9.0, "group", 1), span(4, 3, 4.0, 8.0, "write", 1),
                      span(5, 1, 9.0, 9.5, "plan", 1)],
            "stages": [stage(2, [1000, 3000]), stage(4, [4000, 4000], shuffle=1 << 20, out=2 << 20)],
            "job_spans": [2, 2, 4, 0],
        }
        m = metrics.per_layer(record)
        self.assertAlmostEqual(m["build.busy_s"], 4.0)
        self.assertEqual(m["build.jobs"], 2)
        self.assertAlmostEqual(m["build.task_s"], 4.0)
        self.assertAlmostEqual(m["build.core_util"], 0.5)
        self.assertAlmostEqual(m["write.busy_s"], 4.0)
        self.assertAlmostEqual(m["write.core_util"], 1.0)
        self.assertAlmostEqual(m["write.shuffle_mb"], 1.0)
        self.assertAlmostEqual(m["write.out_mb"], 2.0)
        self.assertAlmostEqual(m["plan.busy_s"], 0.5)
        self.assertAlmostEqual(m["trace.unattributed_s"], 0.5)  # 9.5..10 in the root only
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)
        self.assertAlmostEqual(m["session.busy_s"], 2.0)
        self.assertAlmostEqual(m["warmup.busy_s"], 7.0)
        e2e = metrics.end_to_end(record, 90)
        self.assertAlmostEqual(e2e["wall_s"], 9.0)
        self.assertAlmostEqual(e2e["items_per_s"], 10.0)
        self.assertAlmostEqual(e2e["setup_s"], 2.6)
        self.assertAlmostEqual(e2e["executor_s"], 12.0)
        self.assertAlmostEqual(e2e["peak_heap_mb"], 100.0)


class ContractTest(unittest.TestCase):
    """The metrics a run prints are exactly those BENCHMARK.json lists."""

    def test_metric_names_and_units_match_benchmark_json(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        record = {
            "cores": 4, "warmup_s": 1.0, "setup": [{"session_s": 1.0, "stage_s": 1.0}],
            "iterations": [{"traced": False, "wall_s": 2.0, "gc_s": 0.1, "executor_s": 3.0,
                            "heap_mb": 10.0},
                           {"traced": True, "wall_s": 2.5, "gc_s": 0.1, "executor_s": 3.0,
                            "heap_mb": 10.0}],
            "spans": [span(1, 0, 0.0, 2.5, "iteration", 1)], "stages": [], "job_spans": [],
        }
        for key, values in (("end_to_end", metrics.end_to_end(record, 10)),
                            ("per_layer", metrics.per_layer(record))):
            listed = {m["name"]: m["unit"] for m in bench[key]}
            self.assertEqual(set(values), set(listed), key)
            for name in values:
                self.assertEqual(metrics.unit(name), listed[name], name)


def write_lines(directory, rows, name="part-00000-abc.json"):
    os.makedirs(directory, exist_ok=True)
    with open(os.path.join(directory, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


class QaNegativeControlTest(unittest.TestCase):
    """A correct QA output passes the per-task checks; one flipped answer
    fails them."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.work = self.tmp.name
        frames = [{"dataset": "objectron", "image_id": f"img{i}", "bounding_boxes_3d": [{}],
                   "bounding_boxes_2d": []} for i in range(3)]
        for c in ("corpus_0", "corpus_1"):
            write_lines(os.path.join(self.work, c, "dataset_p=objectron", "split_p=train"), frames)
        self.rows = {}
        for task in checks.QA_TASKS:
            self.rows[task] = [{"id": f"bench_{task}_{i:06d}", "question": "q", "answer": "B",
                                "answer_type": "multiple_choice", "options": ["1", "2", "3"],
                                "metadata": {"image_id": f"img{i}", "source_file": f"file:/x/{i}"}}
                               for i in range(3)]
        self.counts = {t: 3 for t in checks.QA_TASKS}

    def tearDown(self):
        self.tmp.cleanup()

    def write_outputs(self):
        out = os.path.join(self.work, "qa_out")
        combined = []
        for task, rows in self.rows.items():
            write_lines(os.path.join(out, f"bench_{task}_qa"), rows)
            combined += [dict(r, task_type=task) for r in rows]
        write_lines(os.path.join(out, "bench_all_qa_pairs"), combined)
        write_lines(os.path.join(out, "bench_summary"),
                    [{"task_type": t, "total_questions": 3, "dataset": "bench",
                      "generated_date": "2026-01-01T00:00:00"} for t in checks.QA_TASKS])

    def run_checks(self, expected=None):
        self.write_outputs()
        return checks.check_qa(self.work, {"counts": self.counts}, expected)

    def test_correct_output_passes_task_checks(self):
        ops, prints = self.run_checks()
        for op in checks.QA_TASKS + ("combined", "summary"):
            self.assertEqual(ops.failures[op], [], op)
        ops, _ = self.run_checks(prints)
        self.assertEqual(ops.failures["object_count"], [])

    def test_letter_outside_options_fails(self):
        self.rows["object_3d_size"][1]["answer"] = "D"
        ops, _ = self.run_checks()
        self.assertTrue(ops.failures["object_3d_size"])

    def test_flipped_answer_fails_recorded_fingerprint(self):
        _, prints = self.run_checks()
        self.rows["object_count"][0]["answer"] = "A"
        ops, _ = self.run_checks(prints)
        self.assertTrue(ops.failures["object_count"])
        self.assertEqual(ops.failures["object_2d_size"], [])

    def test_gap_in_ids_and_unknown_image_fail(self):
        self.rows["bbox_2d_size"][2]["id"] = "bench_bbox_2d_size_000007"
        self.rows["cam_obj_distance"][0]["metadata"]["image_id"] = "elsewhere"
        ops, _ = self.run_checks()
        self.assertTrue(ops.failures["bbox_2d_size"])
        self.assertTrue(ops.failures["cam_obj_distance"])

    def test_summary_disagreeing_with_outputs_fails(self):
        self.counts["object_count"] = 4
        ops, _ = self.run_checks()
        self.assertTrue(ops.failures["object_count"])


class CurateNegativeControlTest(unittest.TestCase):
    """The committed funnel passes; one dropped row fails its stage."""

    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.tmp = tempfile.TemporaryDirectory()
        self.work = self.tmp.name
        os.makedirs(os.path.join(self.work, "export"))
        n = checks.FUNNEL_FIXED["budget_selected"]
        self.table = pa.table({"doc_id": list(range(n)), "source": ["web"] * n,
                               "n_tokens": [2] * n, "qi": [1] * n})
        pq.write_table(self.table, os.path.join(self.work, "export", "part-0.parquet"))
        funnel = {k: v * 2 for k, v in checks.FUNNEL_PER_COPY.items()}
        funnel.update(checks.FUNNEL_FIXED)
        self.outputs = {"funnel": funnel, "shards": 1,
                        "budget": [{"source": "web", "n_docs": n, "kept_tokens": 2 * n,
                                    "target_tokens": 2 * n}]}

    def tearDown(self):
        self.tmp.cleanup()

    def test_committed_funnel_passes(self):
        ops, _ = checks.check_curate(self.work, self.outputs, 2, None)
        self.assertEqual(ops.messages(), [])

    def test_dropped_funnel_row_fails(self):
        self.outputs["funnel"]["near"] -= 1
        ops, _ = checks.check_curate(self.work, self.outputs, 2, None)
        self.assertEqual(ops.failed, 1)
        self.assertTrue(ops.failures["near"])

    def test_over_budget_and_dropped_export_row_fail(self):
        import pyarrow.parquet as pq
        self.outputs["budget"][0]["target_tokens"] -= 1
        pq.write_table(self.table.slice(1), os.path.join(self.work, "export", "part-0.parquet"))
        ops, _ = checks.check_curate(self.work, self.outputs, 2, None)
        self.assertTrue(ops.failures["budget_selected"])
        self.assertTrue(ops.failures["export"])


if __name__ == "__main__":
    unittest.main()
