"""Tests for the benchmark's own arithmetic and output format.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


class SteadyPassTest(unittest.TestCase):
    def test_sum_of_per_query_medians(self):
        passes = [{"queries": [{"name": "a", "s": a, "error": None},
                               {"name": "b", "s": b, "error": None}]}
                  for a, b in ((1.0, 2.0), (1.2, 9.0), (0.9, 2.2))]
        # a: median 1.0, b: median 2.2; the 9 s outlier does not count
        self.assertAlmostEqual(metrics.steady_pass_seconds(passes), 3.2)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)], 0, 10), 7)
        self.assertEqual(metrics.union_length([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(metrics.union_length([], 0, 10), 0)

    def test_self_time_of_nested_spans(self):
        # query [0,100] -> build [0,30], write [40,100]; write -> jobs
        # [45,70] and [60,90]; job [45,70] -> stages [50,55], [52,65]
        self.assertEqual(metrics.self_time((0, 100), [(0, 30), (40, 100)]), 10)
        self.assertEqual(metrics.self_time((40, 100), [(45, 70), (60, 90)]), 15)
        self.assertEqual(metrics.self_time((45, 70), [(50, 55), (52, 65)]), 10)

    def test_trace_pass_sums_self_time_per_layer(self):
        res = {
            "cores": 2,
            "result_rows": {"q": 10},
            "trace": {
                "queries": [{
                    "qid": "p1:q", "name": "q", "pass": 1,
                    "spans": [{"name": "query", "start": 0, "end": 1000},
                              {"name": "ops.build", "start": 0, "end": 300},
                              {"name": "plans.plan", "start": 300, "end": 400},
                              {"name": "exec.write", "start": 400, "end": 1000}],
                    "phases": {"analysis": 0.01, "optimization": 0.02, "planning": 0.03},
                    "exchanges": 2, "op_rows": 50, "compiles": 3, "compile_s": 0.05,
                    "gc_s": 0.0, "classes": 7, "cache_bytes": 100, "cache_blocks": 4,
                    "stream_batches": 0, "stream_trigger_s": 0.0, "stream_input_rows": 0}],
                "jobs": [
                    {"id": 0, "group": "p1:q", "span": "ops.build", "start": 100, "end": 200},
                    {"id": 1, "group": "p1:q", "span": "exec.write", "start": 500, "end": 900},
                    {"id": 2, "group": "p0:other", "span": None, "start": 600, "end": 700}],
                "stages": [
                    {"id": 0, "job": 0, "submit": 110, "complete": 190, "tasks": 2,
                     "run_s": 0.1, "cpu_s": 0.08, "wait_s": 0.0, "gc_s": 0.0,
                     "shuffle_write_bytes": 10, "shuffle_records": 1, "shuffle_read_bytes": 0,
                     "fetch_wait_s": 0.0, "spill_bytes": 0, "input_bytes": 5, "input_records": 2},
                    {"id": 1, "job": 1, "submit": 500, "complete": 800, "tasks": 4,
                     "run_s": 0.9, "cpu_s": 0.7, "wait_s": 0.01, "gc_s": 0.02,
                     "shuffle_write_bytes": 0, "shuffle_records": 0, "shuffle_read_bytes": 10,
                     "fetch_wait_s": 0.001, "spill_bytes": 0, "input_bytes": 0, "input_records": 0}],
            },
        }
        p = {"pass": 1, "kind": "steady", "traced": True, "files_written": 3, "bytes_written": 300}
        out = metrics.trace_pass(res, p)
        self.assertAlmostEqual(out["self.query_s"], 0.0)
        self.assertAlmostEqual(out["self.ops.build_s"], 0.2)
        self.assertAlmostEqual(out["self.plans.plan_s"], 0.1)
        self.assertAlmostEqual(out["self.exec.write_s"], 0.2)
        # the job of another group inside the window has no stages
        self.assertAlmostEqual(out["self.job_s"], 0.02 + 0.1 + 0.1)
        self.assertAlmostEqual(out["self.stage_s"], 0.08 + 0.3)
        self.assertEqual(out["ops.build_jobs"], 1)
        self.assertEqual(out["exec.jobs"], 3)
        self.assertEqual(out["exec.tasks"], 6)
        self.assertEqual(out["trace.unattributed_jobs"], 1)
        self.assertAlmostEqual(out["plans.rows_per_result"], 5.0)
        self.assertAlmostEqual(out["exec.slot_busy"], 1.0 / (1.0 * 2))
        self.assertEqual(out["sources.files_written"], 3)


class OutputFormatTest(unittest.TestCase):
    def spec(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            return json.load(f)

    def test_every_metric_printed_by_name_with_unit(self):
        for key in ("end_to_end", "per_layer"):
            units = {m["name"]: m["unit"] for m in self.spec()[key]}
            values = {n: 1.25 for n in units}
            lines = run.report(values, {}, units, attempted=20, failed=1,
                               errors=["q_a"], mismatched=[])
            text = "\n".join(lines[:-1])
            for name, unit in units.items():
                self.assertRegex(text, rf"(?m)^{name}\s+1\.250000 {unit}$")
            self.assertIn("failed_frac 0.050000 (1 of 20 executions)", text)
            self.assertIn("q_a", text)
            last = json.loads(lines[-1])
            self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(last["metrics"], {n: {"value": 1.25, "unit": u} for n, u in units.items()})
            self.assertFalse(last["correct"])

    def test_metric_functions_cover_the_declared_names(self):
        spec = self.spec()
        res = {
            "setup_s": [3.0, 2.0, 4.0], "heap_retained_mb": 100.0, "cores": 4,
            "passes": [{"pass": i, "kind": kind, "traced": False, "queries": [
                {"name": f"q{j}", "s": 0.1 * (j + 1), "error": None} for j in range(5)]}
                for i, kind in enumerate(("first", "steady", "steady"))],
        }
        values, notes = metrics.end_to_end(res)
        self.assertEqual(set(values), {m["name"] for m in spec["end_to_end"]})
        self.assertAlmostEqual(values["pass_s"], 1.5)
        self.assertEqual(values["setup_s"], 3.0)
        self.assertIn("2 steady passes", notes["pass_s"])

    def test_warmup_passes_do_not_count(self):
        def p(i, kind, s):
            return {"pass": i, "kind": kind, "traced": False,
                    "queries": [{"name": "q", "s": s, "error": None}]}
        res = {"setup_s": [1.0], "heap_retained_mb": 1.0, "cores": 2,
               "passes": [p(0, "first", 9.0), p(1, "warmup", 5.0), p(2, "warmup", 4.0),
                          p(3, "steady", 2.0), p(4, "steady", 2.5), p(5, "steady", 2.2)]}
        values, _ = metrics.end_to_end(res)
        self.assertAlmostEqual(values["first_pass_s"], 9.0)
        self.assertAlmostEqual(values["pass_s"], 2.2)
        self.assertAlmostEqual(values["query_p50_s"], 2.2)


if __name__ == "__main__":
    unittest.main()
