"""Tests of the benchmark's percentile helpers and comparator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import compare  # noqa: E402
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(metrics.tail(range(19)))

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(range(1, 21)), (50, 10, 20))
        self.assertEqual(metrics.tail(range(1, 101))[:2], (90, 90))
        self.assertEqual(metrics.tail(range(1, 1001))[:2], (99, 990))
        self.assertEqual(metrics.tail(range(1, 10001))[:2], (99.9, 9990))

    def test_tail_ignores_input_order(self):
        xs = list(range(1, 41))
        self.assertEqual(metrics.tail(reversed(xs)), metrics.tail(xs))

    def test_nearest_rank(self):
        xs = [1, 2, 3, 4]
        self.assertEqual(metrics.nearest_rank(xs, 50), 2)
        self.assertEqual(metrics.nearest_rank(xs, 100), 4)
        self.assertEqual(metrics.nearest_rank(xs, 1), 1)

    def test_quartiles_match_statistics_quantiles(self):
        self.assertEqual(metrics.quartiles([1, 2, 3, 4, 5]), (1.5, 3, 4.5))
        self.assertEqual(metrics.quartiles([7]), (7, 7, 7))


def runs(values, start=1):
    return {seed: v for seed, v in enumerate(values, start)}


BASE = runs([10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0])


class VerdictTest(unittest.TestCase):
    def test_clear_gain_lower_is_better(self):
        change = runs([v * 0.8 for v in BASE.values()])
        self.assertEqual(compare.verdict(BASE, change, "lower", 0.1), ("better", 10, 10))

    def test_clear_gain_higher_is_better(self):
        change = runs([v * 1.2 for v in BASE.values()])
        self.assertEqual(compare.verdict(BASE, change, "higher", 0.1)[0], "better")

    def test_gain_needs_nine_in_ten_pairs(self):
        # eight pairs won and two lost: not a gain, and within the bound
        change = runs([v * 0.95 for v in BASE.values()])
        change[1], change[2] = 10.5, 10.4
        self.assertEqual(compare.verdict(BASE, change, "lower", 0.1), ("unchanged", 8, 10))

    def test_gain_needs_medians_apart_by_more_than_base_spread(self):
        change = runs([v - 0.05 for v in BASE.values()])
        self.assertEqual(compare.verdict(BASE, change, "lower", 0.1)[0], "unchanged")

    def test_ties_count_for_neither_side(self):
        self.assertEqual(compare.verdict(BASE, dict(BASE), "lower", 0.1), ("unchanged", 0, 10))

    def test_regression_beyond_bound(self):
        change = runs([v * 1.2 for v in BASE.values()])
        self.assertEqual(compare.verdict(BASE, change, "lower", 0.1)[0], "worse")

    def test_regression_within_bound_is_unchanged(self):
        change = runs([v * 1.05 for v in BASE.values()])
        self.assertEqual(compare.verdict(BASE, change, "lower", 0.1)[0], "unchanged")

    def test_wide_spread_is_unresolved(self):
        base = runs([5, 10, 15, 20, 8, 12, 18, 6, 14, 11])
        change = runs([v * 0.9 for v in base.values()])
        self.assertEqual(compare.verdict(base, change, "lower", 0.1)[0], "unresolved")

    def test_wide_spread_but_every_change_run_better(self):
        base = runs([5, 10, 15, 20, 8, 12, 18, 6, 14, 11])
        change = runs([1.0, 1.5, 2.0, 1.2, 1.1, 1.3, 1.4, 1.6, 1.7, 1.8])
        self.assertEqual(compare.verdict(base, change, "lower", 0.1)[0], "better")


class RowsTest(unittest.TestCase):
    def write_set(self, d, name, values):
        path = Path(d) / name
        with open(path, "w") as f:
            for w, seed, v in values:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": 0, "result": {
                    "correct": True, "attempted": 1, "failed": 0,
                    "metrics": {"op_p50_s": {"value": v, "unit": "s"}}}}) + "\n")
        return compare.load_set(path)

    def test_one_row_per_workload(self):
        specs = {"op_p50_s": ("lower", 0.1)}
        with tempfile.TemporaryDirectory() as d:
            base = self.write_set(d, "b.jsonl", [(w, s, 1.0 + s / 100) for w in ("a", "b")
                                                 for s in range(1, 11)])
            change = self.write_set(d, "c.jsonl", [(w, s, 0.5 + s / 100) for w in ("a", "b")
                                                   for s in range(1, 11)])
        rows = compare.diff_rows(base, change, specs)
        self.assertEqual(len(rows), 2)
        self.assertTrue(rows[0].startswith("a: op_p50_s better"))
        self.assertIn("wins 10/10", rows[1])
        spread = compare.spread_rows(base, specs)
        self.assertEqual(len(spread), 2)
        self.assertIn("ok", spread[0])


if __name__ == "__main__":
    unittest.main()
