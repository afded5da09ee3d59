"""Unit tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import random
import statistics
import unittest

import metrics
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.5), 50)

    def test_ten_beyond_rule(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.5), 20)
        stats.percentile(range(100), 0.9)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(99), 0.9)
        stats.percentile(range(20), 0.5)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(19), 0.5)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile([], 0.5)

    def test_exactly_ten_beyond(self):
        xs = list(range(100))
        p90 = stats.percentile(xs, 0.9)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(stats.union_length([]), 0)


def span(id_, parent, layer, start, end):
    return {"id": id_, "parent": parent, "layer": layer, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [span(1, -1, "apply", 0, 10),
                 span(2, 1, "store", 2, 5),
                 span(3, 1, "store", 4, 8),      # overlaps its sibling
                 span(4, -1, "serve", 20, 25)]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["apply"], 4)  # 10 minus the union [2, 8]
        self.assertAlmostEqual(got["store"], 7)  # 3 + 4, each its own length
        self.assertAlmostEqual(got["serve"], 5)

    def test_child_past_parent_is_clipped(self):
        spans = [span(1, -1, "a", 0, 4), span(2, 1, "b", 3, 6)]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["a"], 3)
        self.assertAlmostEqual(got["b"], 3)

    def test_self_times_sum_to_top_level_wall(self):
        spans = [span(1, -1, "a", 0, 10), span(2, 1, "b", 1, 4),
                 span(3, 2, "c", 2, 3), span(4, -1, "d", 10, 12)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 12)


class ThreadExtentTest(unittest.TestCase):
    def test_each_thread_from_first_start_to_last_end(self):
        spans = [dict(span(1, -1, "dedup", 0, 4), thread="main"),
                 dict(span(2, -1, "ann", 5, 6), thread="main"),
                 dict(span(3, -1, "ann", 6, 9), thread="client-0"),
                 dict(span(4, -1, "ann", 7, 10), thread="client-1")]
        self.assertAlmostEqual(stats.thread_extents(spans), 6 + 3 + 3)


class FreshnessTest(unittest.TestCase):
    def test_first_observation_at_or_past_the_commit(self):
        changes = [(3, 100.0), (4, 150.0), (3, 250.0), (9, 260.0)]
        visible = [(120.0, 2), (200.0, 3), (300.0, 5)]
        fresh, unseen = stats.freshness(changes, visible)
        # v3 due 100 shows at 200; v4 due 150 at 300; v3 due 250 at 300
        self.assertEqual(fresh, [100.0, 150.0, 50.0])
        self.assertEqual(unseen, 1)  # version 9 never became visible

    def test_watermark_is_monotone(self):
        # a lower reading after a higher one does not hide the change
        fresh, unseen = stats.freshness([(2, 0.0)], [(10.0, 3), (20.0, 1)])
        self.assertEqual((fresh, unseen), ([10.0], 0))


class AgreementTest(unittest.TestCase):
    specs = [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
             {"name": "lat", "unit": "ms", "better": "lower", "bound": 0.1},
             {"name": "rate", "unit": "1/s", "better": "higher", "bound": 0.1}]

    def sets(self, scale_lat=1.0, scale_rate=1.0, noisy_setup=False):
        rnd = random.Random(7)
        a = {"setup_s": [10 + rnd.random() * (8 if noisy_setup else 0.1) for _ in range(10)],
             "lat": [100 + rnd.random() for _ in range(10)],
             "rate": [50 + rnd.random() for _ in range(10)]}
        b = {"setup_s": list(a["setup_s"]),
             "lat": [x * scale_lat for x in a["lat"]],
             "rate": [x * scale_rate for x in a["rate"]]}
        return a, b

    def test_same_figures_agree(self):
        got = stats.agreement(*self.sets(), self.specs)
        self.assertTrue(all(ok for ok, _ in got.values()), got)

    def test_worse_median_beyond_bound_fails(self):
        got = stats.agreement(*self.sets(scale_lat=1.2), self.specs)
        self.assertFalse(got["lat"][0])
        got = stats.agreement(*self.sets(scale_rate=0.8), self.specs)
        self.assertFalse(got["rate"][0])
        # better is never a failure
        got = stats.agreement(*self.sets(scale_lat=0.5, scale_rate=2), self.specs)
        self.assertTrue(got["lat"][0] and got["rate"][0])

    def test_spread_beyond_bound_fails(self):
        a, b = self.sets(noisy_setup=True)
        self.assertFalse(stats.agreement(a, b, self.specs)["setup_s"][0])
        a["lat"] = [100, 50, 150, 100, 60, 140, 100, 55, 145, 100]
        self.assertFalse(stats.agreement(a, b, self.specs)["lat"][0])

    def test_spread_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_is_generated_from_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.assertEqual(json.load(f), metrics.spec())

    def test_every_layer_metric_names_what_it_moves(self):
        names = [n for n, *_ in metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)
        for name, unit, better, moves, _ in metrics.PER_LAYER:
            self.assertIn(better, ("lower", "higher"))
            self.assertTrue(moves, name)

    def test_metrics_of_a_raw_record(self):
        raw = {
            "workload": "serve_static", "cores": 4, "clients": 1, "setup_s": 3.0,
            "phase": {"start_ms": 1000.0, "end_ms": 11000.0, "cpu_ms": 30000.0,
                      "steal_share": 0.01},
            "footprint": {"bytes": 5000, "rows": 100},
            "jvm": {"gc_ms": 120.0, "heap_peak_mb": 512.0, "vm_hwm_mb": 900.0,
                    "retained_mb": 300.0},
            "values": {"work": 2000.0, "attempted": 10},
            "samples": {"latency": [float(x) for x in range(1, 121)],
                        "apply.ms": [100.0, 300.0]},
            "spans": [[1, -1, "main", "apply", "applyCdcBatchAuto", 1000.0, 6000.0, 1],
                      [2, 1, "main", "store", "currentVersion", 1000.0, 1001.0, 1],
                      [3, -1, "main", "serve", "agg.exec", 9000.0, 11000.0, 2]],
            "jobs": [[0, 1500.0, 2500.0, 1], [1, 7000.0, 8000.0, -1]],
            "stages": [[0, 0, 4, 3000.0, 100, 200, 300, 2.0, 10],
                       [1, 1, 4, 1000.0, 0, 0, 0, 1.0, 0]],
        }
        e2e = metrics.end_to_end(raw)
        self.assertEqual(set(e2e), {m["name"] for m in metrics.END_TO_END})
        self.assertEqual(e2e["rate_per_s"], 200.0)
        self.assertEqual(e2e["p90_ms"], 108.0)
        self.assertEqual(e2e["bytes_per_row"], 50.0)
        layers = metrics.per_layer(raw)
        self.assertEqual(set(layers), {n for n, *_ in metrics.PER_LAYER})
        self.assertEqual(layers["apply.calls"], 2)
        self.assertAlmostEqual(layers["spark.driver_gap_s"], 8.0)
        self.assertAlmostEqual(layers["spark.core_util"], 4.0 / 40)
        self.assertEqual(layers["spark.unattributed_jobs"], 1)
        self.assertAlmostEqual(layers["self.apply_s"], 4.999)
        # 7 s of self time over the thread's 10 s from first start to last end
        self.assertAlmostEqual(layers["trace.accounted_share"], 0.7)
        raw["workload"] = "cdc_bulk"
        self.assertNotIn("p90_ms", metrics.end_to_end(raw))


if __name__ == "__main__":
    unittest.main()
