"""Tests of perf_ab's pair plan and verdict arithmetic. Run: python3 scripts/test_perf_ab.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perf_ab  # noqa: E402


class Plan(unittest.TestCase):
    def test_default_plan_is_seeds_one_to_n_alternating_which_side_runs_first(self):
        self.assertEqual(perf_ab.plan(3), [
            (1, "base"), (1, "change"),
            (2, "change"), (2, "base"),
            (3, "base"), (3, "change")])

    def test_first_seed_shifts_the_seeds_and_keeps_the_alternation(self):
        self.assertEqual(perf_ab.plan(4, first_seed=101),
                         [(s + 100, side) for s, side in perf_ab.plan(4)])

    def test_each_side_runs_each_seed_once(self):
        runs = perf_ab.plan(10, first_seed=7)
        for side in ("base", "change"):
            self.assertEqual([s for s, x in runs if x == side], list(range(7, 17)))


class Quartiles(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(perf_ab.quartiles([5, 1, 4, 2, 3]), (2, 3, 4))
        self.assertEqual(perf_ab.quartiles([1, 2, 3, 4]), (1.75, 2.5, 3.25))

    def test_one_value_is_every_quartile(self):
        self.assertEqual(perf_ab.quartiles([7]), (7, 7, 7))


BASE = [100, 101, 102, 103, 104, 105, 106, 107, 108, 109]  # median 104.5, IQR 4.5


class Bound(unittest.TestCase):
    def test_within_the_bound_is_ok(self):
        r = perf_ab.judge(BASE, [x * 1.2 for x in BASE], "lower", 0.25)
        self.assertTrue(r["bound_ok"] is True)
        self.assertAlmostEqual(r["rel"], 0.2)

    def test_past_the_bound_is_worse(self):
        self.assertTrue(perf_ab.judge(BASE, [x * 1.3 for x in BASE], "lower", 0.25)["bound_ok"] is False)

    def test_base_spread_wider_than_the_bound_is_unresolved(self):
        base = [60, 80, 100, 120, 140]  # IQR 40 = 0.4 of the median
        r = perf_ab.judge(base, [70, 90, 100, 110, 130], "lower", 0.25)
        self.assertIsNone(r["bound_ok"])

    def test_every_change_run_beating_every_base_run_resolves_it(self):
        base = [60, 80, 100, 120, 140]
        self.assertTrue(perf_ab.judge(base, [50, 51, 52, 53, 54], "lower", 0.25)["bound_ok"] is True)
        # a single overlap leaves it unresolved
        self.assertIsNone(perf_ab.judge(base, [50, 51, 52, 53, 61], "lower", 0.25)["bound_ok"])


class Gain(unittest.TestCase):
    def test_nine_wins_and_a_gap_past_the_base_iqr_is_a_gain(self):
        change = [x - 10 for x in BASE[:9]] + [200]
        r = perf_ab.judge(BASE, change, "lower", 0.25)
        self.assertEqual(r["wins"], 9)
        self.assertTrue(r["gain"])

    def test_eight_wins_is_not(self):
        change = [x - 10 for x in BASE[:8]] + [200, 200]
        r = perf_ab.judge(BASE, change, "lower", 0.25)
        self.assertEqual(r["wins"], 8)
        self.assertFalse(r["gain"])

    def test_a_gap_inside_the_base_iqr_is_not(self):
        r = perf_ab.judge(BASE, [x - 4 for x in BASE], "lower", 0.25)
        self.assertEqual(r["wins"], 10)
        self.assertFalse(r["gain"])

    def test_ties_count_for_neither_side(self):
        self.assertEqual(perf_ab.judge(BASE, list(BASE), "lower", 0.25)["wins"], 0)


class HigherIsBetter(unittest.TestCase):
    def test_the_sign_flips(self):
        up = perf_ab.judge(BASE, [x + 10 for x in BASE], "higher", 0.25)
        self.assertEqual(up["wins"], 10)
        self.assertTrue(up["gain"])
        self.assertTrue(up["bound_ok"] is True)
        down = perf_ab.judge(BASE, [x * 0.7 for x in BASE], "higher", 0.25)
        self.assertEqual(down["wins"], 0)
        self.assertTrue(down["bound_ok"] is False)
        self.assertFalse(down["gain"])


class Statements(unittest.TestCase):
    def test_reads_only_the_statement_median_lines(self):
        out = ("# workload ingest_mixed seed 1\n"
               "stmt.by_cat.median_ms 247.5 ms\n"
               "stmt.insert.median_ms 750 ms\n"
               "insert_p50_ms 751 ms\n"
               '{"correct": true}\n')
        self.assertEqual(perf_ab.stmt_medians(out), {"by_cat": 247.5, "insert": 750.0})

    def test_each_side_takes_the_median_over_its_runs(self):
        base = [{"a": 10, "b": 1}, {"a": 30, "b": 3}, {"a": 20, "b": 2}]
        change = [{"a": 5}, {"a": 7, "c": 9}]
        self.assertEqual(perf_ab.stmt_table(base, change),
                         [("a", 20, 6), ("b", 2, None), ("c", None, 9)])


if __name__ == "__main__":
    unittest.main()
