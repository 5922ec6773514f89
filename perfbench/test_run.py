"""Tests for the result checks and sizing rules in run.py.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest
from decimal import Decimal

import run


class CompareTest(unittest.TestCase):
    def test_same_rows_in_any_column_and_row_order(self):
        r = run.compare(["a", "b"], [(1, "x"), (2, "y")],
                        ["b", "a"], [("y", 2), ("x", 1)])
        self.assertEqual(r, {"ok": True, "got": 2, "want": 2, "matched": 2})

    def test_counts_shared_rows_as_multisets(self):
        r = run.compare(["a"], [(1,), (1,), (2,)], ["a"], [(1,), (3,)])
        self.assertFalse(r["ok"])
        self.assertEqual((r["got"], r["want"], r["matched"]), (3, 2, 1))

    def test_floats_match_within_the_absolute_tolerance(self):
        self.assertTrue(run.compare(["j"], [(0.1 + 0.2,)], ["j"], [(0.3,)])["ok"])
        self.assertFalse(run.compare(["j"], [(0.3001,)], ["j"], [(0.3,)])["ok"])
        self.assertFalse(run.compare(["j"], [(0.3 + 2e-9,)], ["j"], [(0.3,)])["ok"])

    def test_values_either_side_of_a_rounding_boundary_match(self):
        r = run.compare(["j"], [(0.1234567895,)], ["j"], [(0.12345678949999,)])
        self.assertTrue(r["ok"])

    def test_ints_floats_and_decimals_compare_by_value(self):
        self.assertTrue(run.compare(["n"], [(2,)], ["n"], [(2.0,)])["ok"])
        self.assertTrue(run.compare(["n"], [(Decimal("0.5"),)], ["n"], [(0.5,)])["ok"])
        self.assertFalse(run.compare(["n"], [(Decimal("0.5"),)], ["n"], [(0.583333333,)])["ok"])

    def test_integers_compare_exactly(self):
        big = 2 ** 60
        self.assertFalse(run.compare(["n"], [(big,)], ["n"], [(big + 1,)])["ok"])

    def test_a_missing_row_does_not_unmatch_the_rest(self):
        r = run.compare(["a", "b"], [(1, 0.5), (2, 1.5), (3, 2.5)],
                        ["a", "b"], [(1, 0.5), (3, 2.5)])
        self.assertFalse(r["ok"])
        self.assertEqual(r["matched"], 2)

    def test_column_mismatch_fails(self):
        r = run.compare(["a"], [(1,)], ["b"], [(1,)])
        self.assertFalse(r["ok"])
        self.assertEqual(r["matched"], 0)


class HeapTest(unittest.TestCase):
    def test_half_of_memtotal_clamped(self):
        self.assertEqual(run.heap_gb(16479424), 7)
        self.assertEqual(run.heap_gb(2 * 1048576), 2)
        self.assertEqual(run.heap_gb(64 * 1048576), 8)


if __name__ == "__main__":
    unittest.main()
