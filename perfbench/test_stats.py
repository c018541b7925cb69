"""Tests of the benchmark's own arithmetic and of its seed handling.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_the_reported_value(self):
        lat = list(range(1, 41))  # 40 samples
        value, pct, n = stats.tail(lat)
        self.assertEqual(n, 40)
        self.assertEqual(value, 30)
        self.assertEqual(sum(1 for x in lat if x > value), 10)
        self.assertEqual(pct, 75.0)

    def test_percentile_rises_with_the_sample_count(self):
        _, pct, _ = stats.tail([1.0] * 1000)
        self.assertEqual(pct, 99.0)

    def test_order_of_samples_does_not_matter(self):
        lat = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(stats.tail(lat), stats.tail(sorted(lat)))
        self.assertEqual(stats.tail(lat)[0], 2)

    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(stats.tail([1.0] * 10), (None, None, 10))
        self.assertEqual(stats.tail([]), (None, None, 0))


def span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_span_minus_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 90),
                 span(3, 1, 12, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 20 - 40)
        self.assertEqual(st[1], 20 - 8)
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 8)

    def test_overlapping_children_count_once(self):
        # concurrent children, as the graph build's per-table spans
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80),
                 span(3, 0, 45, 50)]
        self.assertEqual(stats.self_times(spans)[0], 100 - 70)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, 10, 20), span(1, 0, 5, 15)]
        self.assertEqual(stats.self_times(spans)[0], 5)


class FailuresTest(unittest.TestCase):
    def test_errors_and_failed_checks_both_count(self):
        ops = [{"kind": "read", "text": "a", "error": None},
               {"kind": "read", "text": "b", "error": "boom"},
               {"kind": "read", "text": "c", "error": None},
               {"kind": "read", "text": "c", "error": None},
               {"kind": "write", "text": "c", "error": None}]
        bad = {("read", "c")}
        self.assertEqual(stats.failures(ops, bad), (5, 3))
        self.assertEqual(stats.failed_frac(ops, bad), 0.6)

    def test_an_op_that_threw_and_failed_its_check_counts_once(self):
        ops = [{"kind": "op", "text": "q", "error": "boom"}]
        self.assertEqual(stats.failures(ops, {("op", "q")}), (1, 1))

    def test_nothing_attempted(self):
        self.assertEqual(stats.failed_frac([], set()), 0.0)


class SeedTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in workloads.WORKLOADS:
            a = workloads.statements_text(workloads.build(w, 7, 750, 7500))
            b = workloads.statements_text(workloads.build(w, 7, 750, 7500))
            self.assertEqual(a, b, w)

    def test_seeds_differ(self):
        for w in workloads.WORKLOADS:
            a = workloads.statements_text(workloads.build(w, 1, 750, 7500))
            b = workloads.statements_text(workloads.build(w, 2, 750, 7500))
            self.assertNotEqual(a, b, w)

    def test_every_pass_has_the_same_mix(self):
        for w in workloads.WORKLOADS:
            stmts = workloads.build(w, 3, 750, 7500)["statements"]
            mixes = {}
            for s in stmts:
                mixes.setdefault(s["pass"], []).append(s["key"])
            first = sorted(mixes[0])
            self.assertTrue(all(sorted(m) == first for m in mixes.values()), w)


class ContractTest(unittest.TestCase):
    """The metrics a run prints are exactly those BENCHMARK.json names."""

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        op = {"phase": "untraced", "index": 0, "kind": "read", "key": "hop1",
              "t0": 0, "t1": 10**9, "error": None, "rows": -1, "counters": {}}
        self.result = {"workload": "graph_read", "setup_reps_s": [3.0, 1.0, 2.0],
                       "heap_mb_end": 100.0, "cached_mb_end": 5.0,
                       "spans": [], "ops": [op]}
        self.ops = [op]

    def test_end_to_end_names_and_units(self):
        m, _ = run.end_to_end(self.result, self.ops, 1.0)
        want = {e["name"]: e["unit"] for e in self.bench["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in m.items()}, want)
        self.assertEqual(m["setup_s"][0], 2.0)

    def test_per_layer_names_and_units(self):
        traced = [dict(self.ops[0], phase="traced")]
        m = run.per_layer(self.result, traced, self.ops, self.ops, 4)
        want = {e["name"]: e["unit"] for e in self.bench["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in m.items()}, want)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(workloads.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
