"""Self-tests of the benchmark's own arithmetic, on synthetic inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from compare import judge_pair  # noqa: E402
from metrics import (driver_idle, end_to_end, per_layer, self_times, spread,  # noqa: E402
                     tail_percentile, tracing_overhead, union_length)


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(tail_percentile(range(19)))          # p50 leaves 9 beyond
        self.assertEqual(tail_percentile(range(1, 21)), (50, 10))

    def test_picks_the_highest_qualifying_percentile(self):
        xs = list(range(1, 101))                               # p90 = 90, 10 beyond
        self.assertEqual(tail_percentile(xs), (90, 90))
        self.assertEqual(tail_percentile(list(range(1, 1001))), (99, 990))
        self.assertEqual(tail_percentile(list(range(1, 40))), (50, 20))   # p75 leaves 9

    def test_order_free(self):
        self.assertEqual(tail_percentile([5, 1, 4] * 10), tail_percentile(sorted([5, 1, 4] * 10)))


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(union_length([(0, 4), (2, 6)], lo=1, hi=5), 4)
        self.assertEqual(union_length([]), 0)

    def test_self_time_with_overlapping_children(self):
        spans = [
            {"id": "q", "parent": None, "start": 0, "end": 10},
            {"id": "a", "parent": "q", "start": 1, "end": 5},
            {"id": "b", "parent": "q", "start": 3, "end": 7},   # overlaps a
            {"id": "c", "parent": "q", "start": 9, "end": 12},  # runs past q
            {"id": "a1", "parent": "a", "start": 2, "end": 3},
        ]
        got = self_times(spans)
        self.assertEqual(got["q"], 10 - 6 - 1)   # children cover [1,7] and [9,10]
        self.assertEqual(got["a"], 3)
        self.assertEqual(got["b"], 4)
        self.assertEqual(got["c"], 3)

    def test_driver_idle_is_wall_minus_job_union(self):
        self.assertEqual(driver_idle(0, 10, [(1, 3), (2, 4), (6, 7)]), 10 - 3 - 1)
        self.assertEqual(driver_idle(0, 10, []), 10)
        self.assertEqual(driver_idle(5, 10, [(0, 6), (9, 20)]), 5 - 1 - 1)


class TracingOverhead(unittest.TestCase):
    @staticmethod
    def passes(walls):
        return [{"wall_s": w, "traced": i % 2 == 1} for i, w in enumerate(walls)]

    def test_drift_over_the_run_cancels(self):
        self.assertAlmostEqual(tracing_overhead(self.passes([10, 9, 8, 7, 6, 5])), 0)

    def test_traced_passes_against_their_neighbours(self):
        self.assertAlmostEqual(tracing_overhead(self.passes([10, 11, 10, 11, 10])), 0.1)


class Comparison(unittest.TestCase):
    parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.1, 9.9]

    def test_improved_needs_nine_of_ten_and_more_than_the_iqr(self):
        change = [v * 0.9 for v in self.parent]
        self.assertEqual(judge_pair(self.parent, change, "lower", 0.1), "improved")
        two_losses = change[:8] + [11.0, 11.0]
        self.assertEqual(judge_pair(self.parent, two_losses, "lower", 0.1), "no-worse")

    def test_wins_within_the_iqr_are_not_a_gain(self):
        change = [v - 0.01 for v in self.parent]
        self.assertEqual(judge_pair(self.parent, change, "lower", 0.1), "no-worse")

    def test_worse_beyond_the_bound(self):
        change = [v * 1.2 for v in self.parent]
        self.assertEqual(judge_pair(self.parent, change, "lower", 0.1), "worse")
        self.assertEqual(judge_pair(self.parent, change, "higher", 0.1), "improved")

    def test_more_failed_runs_are_worse_whatever_the_timings(self):
        change = [v * 0.5 for v in self.parent]
        self.assertEqual(judge_pair(self.parent, change, "lower", 0.1, failed=(0, 1)), "worse")
        self.assertEqual(judge_pair(self.parent, change, "lower", 0.1, failed=(1, 1)),
                         "improved")

    def test_unresolved_when_the_spread_exceeds_the_bound(self):
        noisy = [5, 15, 8, 12, 10, 6, 14, 9, 11, 10]
        self.assertGreater(spread(noisy), 0.1)
        self.assertEqual(judge_pair(noisy, [v * 1.05 for v in noisy], "lower", 0.1),
                         "unresolved")
        self.assertEqual(judge_pair(noisy, [4.0] * 10, "lower", 0.1), "improved")


def synthetic_run():
    """A harness record with one cold and four warm passes of one query."""
    def one_pass(i, traced):
        t = 1000.0 * i
        return {"index": i, "cold": i == 0, "traced": traced, "start_ms": t, "end_ms": t + 500,
                "wall_s": 0.5, "task_cpu_s": 0.2, "tasks": 4, "jit_s": 0.1, "gc_s": 0.0,
                "codegen_compile_s": 0.0, "codegen_classes": 0,
                "queries": [{"name": "a03_dominant_condition", "start_ms": t,
                             "construct_end_ms": t + 100, "end_ms": t + 500, "error": None}]}
    return {"setup": {"s": 20.0, "session_s": 7.0, "fill_s": 13.0, "fill_input_mb": 4.0},
            "tables": {"cached_partitions": 12, "cached_mb": 4.0}, "heap_used_mb": 100.0,
            "slots": 4, "kernels": {}, "jobs": [], "stages": [], "plannings": [], "streams": [],
            "passes": [one_pass(i, i % 2 == 0) for i in range(5)]}


class MetricNames(unittest.TestCase):
    """The metrics a run prints are exactly the ones BENCHMARK.json lists."""

    def test_names_match_the_benchmark_definition(self):
        with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        e2e, _ = end_to_end(synthetic_run(), settle=2)
        self.assertEqual(sorted(e2e), sorted(m["name"] for m in spec["end_to_end"]))
        layer, _ = per_layer(synthetic_run(), settle=2)
        self.assertEqual(sorted(layer), sorted(m["name"] for m in spec["per_layer"]))
        self.assertAlmostEqual(layer["sdv.construct_s"], 0.1)
        self.assertAlmostEqual(layer["driver.idle_s"], 0.5)   # no jobs ran


if __name__ == "__main__":
    unittest.main()
