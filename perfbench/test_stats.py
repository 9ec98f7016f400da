"""Self-tests of the benchmark's statistics. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import statistics
import unittest

import stats


def span(id, parent, layer, start, end, name="x"):
    return {"id": id, "parent": parent, "layer": layer, "name": name,
            "start": start, "end": end, "extra": {}}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks_and_counts_samples(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), (2.5, 4))
        value, n = stats.percentile(range(1, 11), 90)
        self.assertAlmostEqual(value, 9.1)
        self.assertEqual(n, 10)
        self.assertEqual(stats.percentile([7], 90), (7, 1))

    def test_ends_are_min_and_max(self):
        xs = [5, 9, 1, 3]
        self.assertEqual(stats.percentile(xs, 0)[0], 1)
        self.assertEqual(stats.percentile(xs, 100)[0], 9)

    def test_median_agrees_with_statistics(self):
        xs = [3.5, 1.25, 9.0, 4.75, 2.0, 8.5, 7.0]
        self.assertAlmostEqual(stats.percentile(xs, 50)[0], statistics.median(xs))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class GeomeanTest(unittest.TestCase):
    def test_every_value_weighs_the_same(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)

    def test_rejects_non_positive(self):
        for bad in ([], [1, 0], [3, -1]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)


class FailedRatioTest(unittest.TestCase):
    def test_ratio_of_attempted(self):
        self.assertEqual(stats.failed_ratio(4, 1), 0.25)
        self.assertEqual(stats.failed_ratio(10, 0), 0.0)

    def test_needs_an_attempt(self):
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(1, 0, "operation", 0, 100),
                 span(2, 1, "phase", 10, 40),
                 span(3, 1, "phase", 30, 60),  # overlaps 2 on [30, 40]
                 span(4, 2, "job", 15, 25)]
        self.assertEqual(stats.self_times(spans),
                         {"operation": 50.0, "phase": 20.0 + 30.0, "job": 10.0})

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, "phase", 0, 10), span(2, 1, "job", 5, 30)]
        self.assertEqual(stats.self_times(spans), {"phase": 5.0, "job": 25.0})

    def test_batches_get_the_innermost_holder(self):
        spans = [span(9, 0, "workload", 0, 300),
                 span(1, 9, "operation", 0, 100), span(2, 1, "phase", 10, 50),
                 span(3, -1, "batch", 20, 30), span(4, -1, "batch", 200, 210)]
        out = stats.assign_batch_parents(spans)
        # batch 4 ran in an untraced operation: only the workload holds it
        self.assertEqual([(s["id"], s["parent"]) for s in out if s["layer"] == "batch"],
                         [(3, 2)])
        self.assertEqual(stats.self_times(out)["workload"], 200.0)


class OverheadTest(unittest.TestCase):
    def test_pairs_traced_with_untraced_of_the_same_kind(self):
        ops = [{"kind": "a", "ms": 110, "traced": True}, {"kind": "a", "ms": 100, "traced": False},
               {"kind": "b", "ms": 10, "traced": True}, {"kind": "b", "ms": 10, "traced": False},
               {"kind": "c", "ms": 99, "traced": True}]
        self.assertAlmostEqual(stats.overhead_ratio(ops), (1.1 * 1.0) ** 0.5 - 1)


class EndToEndTest(unittest.TestCase):
    def test_metrics_of_a_raw_record(self):
        raw = stats.parse_raw({
            "info": {"session_ready_ms": 5000}, "failures": [], "exec": [], "spans": [],
            "ops": [["k", 10.0, True, False], ["k", 40.0, True, False]],
            "samples": {"harness.gen_s": [2.0, 1.0, 9.0]},
            "values": {"harness.warmup_s": 0.5, "harness.wall_s": 4.0, "peak_rss_mb": 900.0}})
        m = stats.end_to_end(raw, launched_ms=1000)
        self.assertEqual(m["setup_s"], 4.0 + 2.0 + 0.5)
        self.assertEqual(m["op_p50_ms"], 25.0)
        self.assertAlmostEqual(m["op_geomean_ms"], 20.0)
        self.assertEqual(m["ops_per_s"], 40.0)


class BenchmarkJsonTest(unittest.TestCase):
    def test_names_and_units_match_the_definitions(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         stats.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
