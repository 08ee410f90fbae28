"""Tests of the benchmark's metric arithmetic (no JVM needed).

    python3 -m unittest discover -s e2ebench/tests
"""
import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_sixty_samples_give_p83(self):
        xs = list(range(1, 61))
        self.assertEqual(run.tail_percentile(xs), (83, 50))

    def test_ten_or_fewer_samples_have_no_tail(self):
        self.assertIsNone(run.tail_percentile([1.0] * 10))
        self.assertIsNone(run.tail_percentile([]))

    def test_rule_holds_for_every_sample_count(self):
        for n in range(11, 500):
            xs = [float(i) for i in range(n)]
            p, v = run.tail_percentile(list(reversed(xs)))
            beyond = sum(1 for x in xs if x > v)
            self.assertGreaterEqual(beyond, 10, n)
            # the next whole percentile would leave fewer than 10 beyond it
            i = math.ceil((p + 1) * n / 100) - 1
            self.assertLess(n - 1 - i, 10, n)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(run.union_ms([(0, 10), (2, 3)], 0, 100), 10)
        self.assertEqual(run.union_ms([(-5, 5), (95, 200)], 0, 100), 10)
        self.assertEqual(run.union_ms([], 0, 100), 0)

    def trace(self):
        spans = [
            {"id": 0, "name": "outer", "parent": -1, "start_ms": 0.0, "end_ms": 100.0,
             "group": "g0", "attrs": {}},
            {"id": 1, "name": "a", "parent": 0, "start_ms": 10.0, "end_ms": 30.0,
             "group": "g1", "attrs": {"results": 20}},
            {"id": 2, "name": "b", "parent": 0, "start_ms": 40.0, "end_ms": 70.0,
             "group": "g2", "attrs": {}},
        ]
        groups = {"g1": {"jobs": 2, "input_records": 400}, "g2": {"jobs": 1}}
        jobs = [["g1", 12.0, 20.0, True], ["g1", 18.0, 25.0, True], ["g2", 45.0, 50.0, True],
                ["g0", 80.0, 90.0, True]]
        queries = [[15.0, 3.0, 7.0], [85.0, 2.0, 0.0], [35.0, 1.0, 0.0]]
        return {"spans": spans, "groups": groups, "jobs": jobs, "queries": queries}

    def test_self_time_excludes_children(self):
        rows = run.span_table(self.trace())
        self.assertEqual(rows[0]["self_ms"], 50.0)
        self.assertEqual(rows[1]["self_ms"], 20.0)
        self.assertEqual(rows[2]["self_ms"], 30.0)

    def test_outside_jobs_is_self_time_not_covered_by_own_jobs(self):
        rows = run.span_table(self.trace())
        self.assertEqual(rows[1]["outside_jobs_ms"], 20.0 - 13.0)
        self.assertEqual(rows[2]["outside_jobs_ms"], 25.0)
        self.assertEqual(rows[0]["outside_jobs_ms"], 40.0)

    def test_queries_go_to_the_innermost_span(self):
        rows = run.span_table(self.trace())
        self.assertEqual((rows[1]["planning_ms"], rows[1]["files_read"]), (3.0, 7.0))
        self.assertEqual(rows[0]["planning_ms"], 3.0)
        self.assertEqual(rows[2]["planning_ms"], 0.0)


class Results(unittest.TestCase):
    def raw(self, traced):
        return {"workload": "ann_serve", "cpus": 4, "setup_s": [3.0, 1.0, 2.0],
                "pass": {"wall_s": 2.0, "cpu_s": 5.0, "gc_s": 0.1, "start_ms": 0.0,
                         "end_ms": 2000.0},
                "peak_rss_mb": 900.0, "retained_heap_mb": 300.0, "recall": 0.9, "attempted": 5, "failed": 0,
                "sizes": {"panel": 10}, "extra": {},
                "latency_ms": {"search": [float(i) for i in range(1, 31)], "batch": [500.0]},
                "trace": SelfTime().trace() if traced else {}}

    def test_end_to_end_metrics(self):
        m = run.end_to_end(self.raw(False))
        self.assertEqual(set(m), set(run.END_TO_END))
        self.assertEqual(m["setup_s"], 2.0)

    def test_every_per_layer_metric_is_reported(self):
        m = run.layer_metrics(self.raw(True), self.raw(False))
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertEqual(m["serve.batch_qps"], 20.0)
        self.assertEqual(m["serve.search_tail_pct"], 66)
        self.assertEqual(m["trace.overhead_s"], 0.0)

    def test_result_line_has_exactly_the_contract_keys(self):
        raw = self.raw(False)
        line = run.result_line([raw], run.end_to_end(raw), {k: u for k, (u, _) in run.END_TO_END.items()})
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"])


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_the_runner_reports(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
