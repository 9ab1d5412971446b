"""Tests of the benchmark's own arithmetic. Run: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402
import workloads  # noqa: E402


def span(i, parent, start, end, name="s", op=None):
    return {"id": i, "parent": parent, "op": op or i, "name": name, "start": start, "end": end}


class Percentiles(unittest.TestCase):
    def test_interpolates_like_numpy_linear(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([7], 75), 7)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_rule_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 80, 90)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 50 - 10)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130), span(3, 1, -20, 5)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 10 - 5)

    def test_grandchildren_do_not_reduce_grandparent_twice(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 10)

    def test_leaf_self_time_is_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 5, 8)])[1], 3)


class Attribution(unittest.TestCase):
    def setUp(self):
        # two sequential operations, each with two child layer spans
        self.spans = [
            span(1, 0, 100, 200, "query:a", 1), span(2, 1, 100, 150, "ops.build", 1),
            span(3, 1, 150, 200, "exec.run", 1),
            span(4, 0, 300, 400, "query:b", 4), span(5, 4, 300, 320, "ops.build", 4),
            span(6, 4, 320, 400, "exec.run", 4)]

    def test_event_goes_to_innermost_window(self):
        ev = [{"t": 120}, {"t": 170}, {"t": 310}, {"t": 399}]
        got = stats.attribute(ev, self.spans)
        self.assertEqual([got[i] for i in range(4)], [2, 3, 5, 6])

    def test_late_event_goes_to_the_operation_that_just_ended(self):
        ev = [{"t": 250}, {"t": 1000}]
        got = stats.attribute(ev, self.spans, next_starts=[100, 300])
        self.assertEqual(got[0], 1)
        self.assertEqual(got[1], 4)

    def test_event_of_an_untraced_operation_is_dropped(self):
        # an untraced operation ran from 220 to 280: no spans, only its start
        ev = [{"t": 210}, {"t": 230}, {"t": 500}]
        got = stats.attribute(ev, self.spans, next_starts=[100, 220, 300, 450])
        self.assertEqual(got, {0: 1})

    def test_event_before_any_operation_is_dropped(self):
        self.assertEqual(stats.attribute([{"t": 5}], self.spans), {})

    def test_under_walks_ancestors(self):
        by_id = {s["id"]: s for s in self.spans}
        self.assertTrue(stats.under(3, by_id, ["exec."]))
        self.assertTrue(stats.under(3, by_id, ["query:"]))
        self.assertFalse(stats.under(2, by_id, ["exec."]))


class Canonical(unittest.TestCase):
    def test_numbers_compare_across_renderings(self):
        c = workloads.canon_cell
        self.assertEqual(c("1.5E7"), c(15000000))
        self.assertEqual(c("3"), c(3.0))
        self.assertEqual(c("0.1"), c(0.1 + 1e-15))
        self.assertNotEqual(c("0.1"), c(0.1001))
        self.assertIsNone(c(None))
        self.assertEqual(c("x"), "x")

    def test_multiset_ignores_row_order(self):
        a = [["1", "a"], ["2", None]]
        b = [[2, None], [1, "a"]]
        self.assertEqual(workloads.canon_rows(a), workloads.canon_rows(b))


if __name__ == "__main__":
    unittest.main()
