"""Self-tests of the benchmark's maths and of BENCHMARK.json's metric lists.

Run from the root of the checkout: python3 -m unittest discover -s perfbench
"""
import datetime
import decimal
import json
import random
import unittest
from pathlib import Path

import run
import stats


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 201))  # 1..200
        self.assertEqual(stats.percentile(xs, 50), 100)
        self.assertEqual(stats.percentile(xs, 95), 190)
        self.assertEqual(stats.percentile(xs, 100), 200)
        self.assertEqual(stats.percentile([7], 95), 7)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)

    def test_ten_samples_beyond(self):
        # p95 needs 200 samples: 10 lie beyond it
        self.assertFalse(stats.supported(199, 95))
        self.assertTrue(stats.supported(200, 95))
        self.assertTrue(stats.supported(20, 50))
        self.assertFalse(stats.supported(19, 50))

    def test_highest_percentile(self):
        self.assertEqual(stats.highest_percentile(200), 95)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(60), 75)
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertEqual(stats.highest_percentile(19), None)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        st = stats.self_times([(1, 0, 1, "a", 0, 100)])
        self.assertEqual(st["a"], {"count": 1, "total_ns": 100, "self_ns": 100})

    def test_overlapping_children_count_once(self):
        spans = [
            (1, 0, 1, "parent", 0, 100),
            (2, 1, 1, "child", 10, 50),
            (3, 1, 1, "child", 30, 70),   # overlaps the first child
            (4, 1, 1, "child", 90, 120),  # runs past the parent's end
        ]
        st = stats.self_times(spans)
        # children cover [10, 70) and [90, 100) of the parent: 70 ns
        self.assertEqual(st["parent"]["self_ns"], 30)
        self.assertEqual(st["parent"]["total_ns"], 100)
        self.assertEqual(st["child"]["count"], 3)
        self.assertEqual(st["child"]["self_ns"], 40 + 40 + 30)

    def test_nested_grandchildren_only_subtract_from_their_parent(self):
        spans = [(1, 0, 1, "op", 0, 100), (2, 1, 1, "mid", 0, 60),
                 (3, 2, 1, "leaf", 0, 60)]
        st = stats.self_times(spans)
        self.assertEqual(st["op"]["self_ns"], 40)
        self.assertEqual(st["mid"]["self_ns"], 0)
        self.assertEqual(st["leaf"]["self_ns"], 60)


class Digest(unittest.TestCase):
    cols = ["id", "score", "name", "when", "tags"]
    rows = [
        (1, 0.5, "a", datetime.datetime(2024, 1, 2, 3, 4, 5), [1, 2]),
        (2, 1.25, "b", datetime.datetime(2024, 1, 2, 3, 4, 6), []),
        (2, 1.25, "b", datetime.datetime(2024, 1, 2, 3, 4, 6), []),
        (3, None, None, None, None),
    ]

    def test_row_order_does_not_matter(self):
        shuffled = list(self.rows)
        random.Random(7).shuffle(shuffled)
        self.assertEqual(stats.digest(self.cols, self.rows),
                         stats.digest(self.cols, shuffled))

    def test_column_order_does_not_matter(self):
        perm = [4, 2, 0, 3, 1]
        cols = [self.cols[i] for i in perm]
        rows = [tuple(r[i] for i in perm) for r in self.rows]
        self.assertEqual(stats.digest(self.cols, self.rows), stats.digest(cols, rows))

    def test_duplicates_and_values_matter(self):
        base = stats.digest(self.cols, self.rows)
        # dropping one copy of the duplicated row changes the digest
        self.assertNotEqual(base, stats.digest(self.cols, self.rows[:2] + self.rows[3:]))
        changed = [self.rows[0][:1] + (0.75,) + self.rows[0][2:]] + self.rows[1:]
        self.assertNotEqual(base, stats.digest(self.cols, changed))

    def test_decimal_and_float_agree(self):
        self.assertEqual(stats.digest(["x"], [(decimal.Decimal("0.50"),)]),
                         stats.digest(["x"], [(0.5,)]))


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_the_harness(self):
        spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
