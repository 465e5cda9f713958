"""Tests of the benchmark's own code: generator, replay oracle, percentiles.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
from oracle import FAILED, PROCESSED  # noqa: E402
from stats import median, percentile, rel_se_median  # noqa: E402


def staged_bytes(wl):
    """Stages a workload's files the way run.py does and reads them back."""
    import run
    with tempfile.TemporaryDirectory() as d:
        q = os.path.join(d, "queue")
        run.stage(wl, q)
        out = {}
        for n in sorted(os.listdir(q)):
            with open(os.path.join(q, n), "rb") as f:
                out[n] = f.read()
        return out


class GeneratorTest(unittest.TestCase):
    def workload(self, seed):
        return gen.generate(seed, 12, 200, 250, hot=3, hot_share=0.4, hot_stock_frac=0.5)

    def test_same_seed_gives_byte_identical_files(self):
        a, b = staged_bytes(self.workload(5)), staged_bytes(self.workload(5))
        self.assertEqual(len(a), 12)
        self.assertEqual(a, b)
        self.assertEqual(gen.inventory_csv(self.workload(5).inventory),
                         gen.inventory_csv(self.workload(5).inventory))

    def test_other_seed_gives_other_files(self):
        self.assertNotEqual(staged_bytes(self.workload(5)), staged_bytes(self.workload(6)))

    def test_orders_carry_their_due_time_and_mix(self):
        wl = self.workload(7)
        lines = [ln for f in wl.files for ln in f]
        first = {}
        for i, f in enumerate(wl.files):
            for ln in f:
                try:
                    o = json.loads(ln)
                except ValueError:
                    continue
                first.setdefault(o["order_id"], i)
                if first[o["order_id"]] == i:
                    self.assertEqual(o["timestamp"], gen.iso(gen.BASE_MS + i * 250))
        redelivered = len(lines) - len(wl.orders)
        invalid = sum(1 for o in wl.orders.values() if not o.valid)
        self.assertTrue(0.01 < redelivered / len(lines) < 0.05, redelivered)
        self.assertTrue(0.002 < invalid / len(lines) < 0.03, invalid)
        for oid, o in wl.orders.items():
            self.assertEqual(first[oid], o.file) if oid in first else self.assertFalse(o.valid)


class ReplayTest(unittest.TestCase):
    def test_repeated_product_in_one_order_charges_every_line(self):
        v, stock = oracle.replay([(0, ["a"])], {"a": [("p", 2), ("p", 2)]}, {"p": 3})
        self.assertEqual(v, {"a": FAILED})
        self.assertEqual(stock, {"p": 3})
        v, stock = oracle.replay([(0, ["a"])], {"a": [("p", 2), ("p", 2)]}, {"p": 4})
        self.assertEqual((v, stock), ({"a": PROCESSED}, {"p": 0}))

    def test_two_orders_contending_serialize_by_order_id(self):
        lines = {"b": [("p", 2)], "a": [("p", 2)]}
        v, stock = oracle.replay([(0, ["b", "a"])], lines, {"p": 3})
        self.assertEqual(v, {"a": PROCESSED, "b": FAILED})
        self.assertEqual(stock, {"p": 1})

    def test_failed_orders_still_charge_later_ones_in_their_batch(self):
        lines = {"a": [("p", 5)], "b": [("p", 1)]}
        v, stock = oracle.replay([(0, ["a", "b"])], lines, {"p": 3})
        self.assertEqual(v, {"a": FAILED, "b": FAILED})
        v, stock = oracle.replay([(0, ["a"]), (1, ["b"])], lines, {"p": 3})
        self.assertEqual((v, stock), ({"a": FAILED, "b": PROCESSED}, {"p": 2}))

    def test_unknown_product_counts_as_stock_zero(self):
        lines = {"a": [("p", 1), ("ghost", 1)], "b": [("p", 1)]}
        v, stock = oracle.replay([(0, ["a", "b"])], lines, {"p": 5})
        self.assertEqual(v, {"a": FAILED, "b": PROCESSED})
        self.assertEqual(stock, {"p": 4})

    def test_check_flags_a_redelivery_verdict_in_two_batches(self):
        orders = {"a": gen.Order("a", 0, True, [("p", 1)])}
        attempted, failures = oracle.check(
            [("a", PROCESSED, 0), ("a", PROCESSED, 1)], orders, {"p": 5}, {"p": 3})
        self.assertEqual(attempted, 2)
        self.assertEqual(failures, ["a: 2 verdicts"])

    def test_check_flags_a_verdict_for_invalid_json(self):
        orders = {"a": gen.Order("a", 0, True, [("p", 1)]), "x": gen.Order("x", 0, False)}
        _, failures = oracle.check(
            [("a", PROCESSED, 0), ("x", FAILED, 0)], orders, {"p": 5}, {"p": 4})
        self.assertEqual(failures, ["x: verdict for an invalid order"])
        _, failures = oracle.check([("a", PROCESSED, 0)], orders, {"p": 5}, {"p": 4})
        self.assertEqual(failures, [])

    def test_check_flags_missing_and_wrong_verdicts_and_stock(self):
        orders = {"a": gen.Order("a", 0, True, [("p", 2)]),
                  "b": gen.Order("b", 0, True, [("p", 2)]),
                  "c": gen.Order("c", 1, True, [("q", 1)])}
        _, failures = oracle.check(
            [("a", PROCESSED, 0), ("b", PROCESSED, 0)], orders, {"p": 3, "q": 1}, {"p": 1, "q": 1})
        self.assertEqual(failures, ["b: status PROCESSED, replay says FAILED", "c: no verdict"])
        _, failures = oracle.check(
            [("a", PROCESSED, 0), ("b", FAILED, 0), ("c", PROCESSED, 1)], orders,
            {"p": 3, "q": 1}, {"p": 3, "q": 0})
        self.assertEqual(failures, ["p: final stock 3, replay says 1"])


class PercentileTest(unittest.TestCase):
    def test_reports_value_and_sample_count(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 50), (50, 100))
        self.assertEqual(percentile(xs, 99), (99, 100))
        self.assertEqual(percentile(xs, 100), (100, 100))
        self.assertEqual(percentile([7], 99), (7, 1))
        self.assertEqual(percentile([], 50), (None, 0))
        self.assertEqual(percentile([3, 1, 2], 50), (2, 3))
        with self.assertRaises(ValueError):
            percentile(xs, 0)

    def test_median_interpolates(self):
        self.assertEqual(median([1, 2, 3, 4]), 2.5)
        self.assertEqual(median([4, 1, 3]), 3)
        self.assertIsNone(median([]))

    def test_rel_se_median_shrinks_with_samples(self):
        xs = [90, 95, 100, 105, 110]
        self.assertAlmostEqual(rel_se_median(xs), 1.2533 * 15 / 1.349 / (100 * 5 ** 0.5), places=9)
        self.assertLess(rel_se_median(xs * 4), rel_se_median(xs) / 2)


if __name__ == "__main__":
    unittest.main()
