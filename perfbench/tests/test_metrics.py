"""Tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            metrics.median([])


class TailTest(unittest.TestCase):
    def test_percentile_leaves_ten_beyond_at_the_fewest_samples(self):
        self.assertEqual(metrics.tail_pct(100), 90.0)
        self.assertEqual(metrics.tail_pct(40), 75.0)
        self.assertAlmostEqual(metrics.tail_pct(30), 66.6667, places=4)

    def test_value_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs, 90.0), 90)
        self.assertEqual(metrics.tail(list(range(1, 31)), metrics.tail_pct(30)), 20)

    def test_ten_beyond_holds_at_and_above_the_fewest_samples(self):
        for n_min in range(11, 120):
            pct = metrics.tail_pct(n_min)
            for n in (n_min, n_min + 7, 3 * n_min):
                xs = list(range(n))
                value = metrics.tail(xs, pct)
                self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, (n_min, n))

    def test_too_few_samples_raise(self):
        with self.assertRaises(ValueError):
            metrics.tail_pct(10)


class FailedFracTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(metrics.failed_frac(0, 40), 0.0)
        self.assertEqual(metrics.failed_frac(1, 4), 0.25)

    def test_nothing_attempted_raises(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, 0)

    def test_rep_failures_counts_throws_and_row_mismatches(self):
        reps = [{"query": "a", "rows": 5, "err": None},
                {"query": "a", "rows": 4, "err": None},
                {"query": "b", "rows": None, "err": "boom"},
                {"query": "b", "rows": 7, "err": None}]
        bad = metrics.rep_failures(reps, {"a": 5, "b": 7})
        self.assertEqual([(r["query"], r["rows"]) for r in bad], [("a", 4), ("b", None)])
        self.assertEqual(metrics.failed_frac(len(bad), len(reps)), 0.5)


class CoreUtilTest(unittest.TestCase):
    def test_share_of_core_time(self):
        # 4 cores busy for half of a 1000 ms pass
        self.assertEqual(metrics.core_util(2000, 1000, 4), 0.5)
        self.assertEqual(metrics.core_util(4000, 1000, 4), 1.0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        span = {"start": 0, "end": 100}
        kids = [{"start": 10, "end": 30}, {"start": 20, "end": 40}, {"start": 90, "end": 120}]
        self.assertEqual(metrics.self_ms(span, kids), 100 - 30 - 10)

    def test_no_children(self):
        self.assertEqual(metrics.self_ms({"start": 5, "end": 9}, []), 4)


class ResultLineTest(unittest.TestCase):
    def test_line_carries_every_metric_with_its_unit(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        for section in ("end_to_end", "per_layer"):
            declared = {m["name"]: m["unit"] for m in bench[section]}
            line = metrics.result_line(True, 3, 0, {k: (1.5, u) for k, u in declared.items()})
            parsed = json.loads(line)
            self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual({k: v["unit"] for k, v in parsed["metrics"].items()}, declared)

    def test_per_layer_units_match_benchmark_json(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.LAYER_UNITS)

    def test_end_to_end_names_match_benchmark_json(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        recs = metrics.by_kind(
            [{"kind": "timed_start", "epoch_ms": 5000}] +
            [{"kind": "pass", "pass": p, "traced": False, "wall_ms": 100.0 + p}
             for p in range(3)] +
            [{"kind": "rep", "pass": p, "query": f"q{i}", "ms": float(i), "rows": 1,
              "err": None} for p in range(3) for i in range(10)])
        got, info = metrics.end_to_end(recs, 1.0, 2048.0, 30)
        self.assertEqual({k: u for k, (_, u) in got.items()},
                         {m["name"]: m["unit"] for m in bench["end_to_end"]})
        self.assertEqual(got["setup_s"][0], 4.0)
        self.assertEqual(got["suite_s"][0], 0.101)
        self.assertEqual((info["query_tail_pct"], info["query_tail_n"]), (66.67, 30))
        self.assertEqual(got["query_tail_ms"][0], 6.0)  # 20th of 0..9 x3


if __name__ == "__main__":
    unittest.main()
