"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench/tests"""
import sys
import unittest
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import benchlib  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.percentile(range(99), 0.9))
        self.assertEqual(benchlib.percentile(range(1, 101), 0.9), 90)

    def test_median_of_twenty_is_allowed_p90_is_not(self):
        xs = list(range(20))
        self.assertIsNotNone(benchlib.percentile(xs, 0.5))
        self.assertIsNone(benchlib.percentile(xs, 0.9))

    def test_empty(self):
        self.assertIsNone(benchlib.percentile([], 0.5))
        self.assertIsNone(benchlib.median([]))

    def test_median(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 2, 3]), 2.5)


class IntervalUnion(unittest.TestCase):
    def test_overlap_and_gap(self):
        self.assertAlmostEqual(benchlib.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_nested_and_touching(self):
        self.assertAlmostEqual(benchlib.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped(self):
        self.assertAlmostEqual(benchlib.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(benchlib.union_length([(0, 1)], 2, 5), 0)

    def test_driver_gap_is_op_wall_minus_job_union(self):
        recs = [
            {"type": "mark", "name": "first_op", "t": 0.0},
            {"type": "mark", "name": "pass_end", "t": 10.0},
            {"type": "op", "op": 0, "name": "q", "kind": "query", "start": 0.0,
             "end": 10.0, "ok": True, "err": None, "phases": {"execute": 10.0}},
            {"type": "span", "id": 1, "parent": 0, "name": "op", "op": 0,
             "start": 0.0, "end": 10.0},
            {"type": "span", "id": 2, "parent": 1, "name": "execute", "op": 0,
             "start": 0.0, "end": 10.0},
            # two overlapping jobs (1..4, 3..6) and one outside the op
            {"type": "job_start", "job": 0, "t": 1.0, "op": "0", "sql": None, "stages": [0]},
            {"type": "job_end", "job": 0, "t": 4.0, "ok": True},
            {"type": "job_start", "job": 1, "t": 3.0, "op": "0", "sql": None, "stages": [1]},
            {"type": "job_end", "job": 1, "t": 6.0, "ok": True},
            {"type": "job_start", "job": 2, "t": 11.0, "op": None, "sql": None, "stages": []},
            {"type": "job_end", "job": 2, "t": 12.0, "ok": True},
        ]
        spans = benchlib.build_spans(recs)
        m = benchlib.per_layer(recs, spans, cores=4, untraced_wall=8.0)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertAlmostEqual(m["exec.job_busy_s"], 5.0)
        self.assertAlmostEqual(m["driver.gap_s"], 5.0)
        self.assertAlmostEqual(m["driver.gap_frac"], 0.5)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.25)
        self.assertEqual(set(m), set(benchlib.LAYER_UNITS))


class EndToEnd(unittest.TestCase):
    def test_ratio_failures_and_setup(self):
        recs = [
            {"type": "mark", "name": "session", "t": 1.0, "epoch_ms": 101000},
            {"type": "mark", "name": "data", "t": 2.0},
            {"type": "mark", "name": "first_op", "t": 5.0},
            {"type": "mark", "name": "pass_end", "t": 20.0, "heap_peak_mb": 200.0, "gcs": 7},
        ] + [{"type": "op", "op": i, "name": n, "kind": "query", "start": 5.0 + i,
              "end": 5.0 + i + d, "ok": True, "err": None, "phases": {}}
             for i, (n, d) in enumerate([("a", 2.0), ("b", 0.5), ("c", 1.0)])]
        m = benchlib.end_to_end(recs, launch_epoch=100.0, failed={2: "c: mismatch"},
                                reference={"a": 1.0, "b": 1.0, "c": 1.0})
        self.assertAlmostEqual(m["setup_s"], 5.0)
        self.assertAlmostEqual(m["ops_per_s"], 2 / 3.5)
        self.assertAlmostEqual(m["op_time_ratio"], 1.0)  # sqrt(2 * 0.5)
        self.assertAlmostEqual(m["ops_failed_frac"], 1 / 3)
        self.assertEqual(m["samples"], 2)
        self.assertIsNone(m["op_p90_s"])


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": "a", "parent": None, "start": 0, "end": 10},
            {"id": "b", "parent": "a", "start": 1, "end": 4},
            {"id": "c", "parent": "a", "start": 3, "end": 6},
            {"id": "d", "parent": "b", "start": 2, "end": 3},
        ]
        s = benchlib.self_times(spans)
        self.assertAlmostEqual(s["a"], 5)
        self.assertAlmostEqual(s["b"], 2)
        self.assertAlmostEqual(s["c"], 3)
        self.assertAlmostEqual(s["d"], 1)

    def test_child_beyond_parent_is_clipped(self):
        spans = [{"id": "a", "parent": None, "start": 0, "end": 2},
                 {"id": "b", "parent": "a", "start": 1, "end": 5}]
        self.assertAlmostEqual(benchlib.self_times(spans)["a"], 1)


class Sampler(unittest.TestCase):
    pool = ([(f"a{i}", "A", i * 0.1) for i in range(60)] +
            [(f"b{i}", "B", 1 + i) for i in range(30)] +
            [(f"c{i}", "C", 0.05 * i) for i in range(10)])

    def test_same_seed_same_sample_and_order(self):
        self.assertEqual(benchlib.stratified_sample(self.pool, 20, 7),
                         benchlib.stratified_sample(self.pool, 20, 7))

    def test_seed_changes_sample_or_order(self):
        self.assertNotEqual(benchlib.stratified_sample(self.pool, 20, 7),
                            benchlib.stratified_sample(self.pool, 20, 8))

    def test_fixed_size_without_repeats(self):
        for size in (1, 7, 33, 100):
            s = benchlib.stratified_sample(self.pool, size, 1)
            self.assertEqual(len(s), size)
            self.assertEqual(len(set(s)), size)

    def test_module_shares_are_respected(self):
        counts = Counter()
        seeds = 2000
        for seed in range(seeds):
            counts.update(n[0] for n in benchlib.stratified_sample(self.pool, 20, seed))
        for module, share in (("a", 0.6), ("b", 0.3), ("c", 0.1)):
            self.assertAlmostEqual(counts[module] / (20 * seeds), share, delta=0.02)

    def test_every_cost_band_is_sampled(self):
        ranked = [n for n, _, _ in sorted(self.pool, key=lambda p: (p[2], p[0]))]
        for seed in range(50):
            s = set(benchlib.stratified_sample(self.pool, 20, seed))
            for band in range(20):
                self.assertEqual(len(s & set(ranked[band * 5:(band + 1) * 5])), 1)

    def test_bad_size(self):
        with self.assertRaises(ValueError):
            benchlib.stratified_sample(self.pool, 0, 1)
        with self.assertRaises(ValueError):
            benchlib.stratified_sample(self.pool, 101, 1)


if __name__ == "__main__":
    unittest.main()
