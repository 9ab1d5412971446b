"""Tests of scale_report's log reconstruction. Run: python3 scripts/test_scale_report.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import scale_report  # noqa: E402


def from_lines(*lines):
    with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as f:
        f.write("\n".join(lines) + "\n")
    try:
        return scale_report.from_log(f.name)
    finally:
        os.remove(f.name)


class FromLog(unittest.TestCase):
    def test_odd_count_takes_the_middle_line_not_the_min(self):
        qs = from_lines("[bench] d36_spearman                    15.300 s",
                        "[bench] --- repetition 2 of 3 ---",
                        "[bench] d36_spearman                     8.600 s",
                        "[bench] d36_spearman                     6.400 s")
        self.assertEqual(qs, {"d36_spearman": 8.6})

    def test_even_count_averages_the_two_middle_lines(self):
        qs = from_lines("[bench] j2_window_rollup  5.0 s", "[bench] j2_window_rollup  1.0 s",
                        "[bench] j2_window_rollup  2.0 s", "[bench] j2_window_rollup  3.0 s")
        self.assertEqual(qs, {"j2_window_rollup": 2.5})

    def test_a_name_seen_once_keeps_its_time(self):
        qs = from_lines("[bench] a1_scan_prune  0.298 s", "[bench] f3_topk  0.224 s",
                        "[bench] f3_topk  0.138 s", "[bench] f3_topk  0.2 s")
        self.assertEqual(qs, {"a1_scan_prune": 0.298, "f3_topk": 0.2})

    def test_a_name_that_failed_in_any_repetition_is_left_out(self):
        qs = from_lines("[bench] q1_pricing_summary  1.0 s",
                        "[bench] c1_inner_join FAILED: boom",
                        "[bench] c1_inner_join  0.5 s",
                        "[bench] c1_inner_join  0.4 s")
        self.assertEqual(qs, {"q1_pricing_summary": 1.0})

    def test_other_lines_are_ignored(self):
        self.assertEqual(from_lines("[info] compiling 3 s", "[bench] LPT order over 411 prior timings"), {})


if __name__ == "__main__":
    unittest.main()
