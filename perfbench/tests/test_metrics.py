"""Unit tests for the metric rules: tail percentiles, span self time,
failure denominators."""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from pbench import metrics  # noqa: E402


def span(i, parent, start, end, name="x.y_s"):
    return {"id": i, "parent": parent, "name": name, "layer": name.split(".")[0],
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9), "counters": {}}


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_above(self):
        xs = [float(i) for i in range(1, 101)]
        p = metrics.tail_percentile(xs, 0.9)
        self.assertAlmostEqual(p, 90.1)
        self.assertEqual(sum(1 for x in xs if x > p), 10)

    def test_p90_withheld_below_ten_samples_above(self):
        self.assertIsNone(metrics.tail_percentile([float(i) for i in range(50)], 0.9))
        self.assertIsNone(metrics.tail_percentile([], 0.9))

    def test_highest_tail_keeps_ten_samples_above(self):
        xs = [float(i) for i in range(1, 62)]
        q, v = metrics.highest_tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(q, 50 / 60)
        self.assertIsNone(metrics.highest_tail(xs[:10]))

    def test_percentile_interpolates_like_numpy(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.percentile([5], 0.9), 5)


class SelfTime(unittest.TestCase):
    def test_self_is_span_minus_child_coverage(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 4), span(2, 0, 5, 7),
                 span(3, 1, 2, 3)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 3 - 2)
        self.assertAlmostEqual(st[1], 3 - 1)
        self.assertAlmostEqual(st[2], 2)
        self.assertAlmostEqual(st[3], 1)
        # nested, non-overlapping spans: self times add up to the root
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_overlapping_children_are_covered_once(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 5), span(2, 0, 3, 6)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 10 - 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 4), span(1, 0, 3, 6)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 3)


class FailureCounts(unittest.TestCase):
    def test_every_call_and_every_check_is_one_operation(self):
        passes = [{"ops": [{"s": 1, "ok": True}, {"s": 1, "ok": False}]},
                  {"ops": [{"s": 1, "ok": True}]}]
        checks = [("q1", True, ""), ("q2", False, "hash differs")]
        self.assertEqual(metrics.failure_counts(passes, checks), (5, 2))

    def test_a_run_with_no_checks_counts_its_calls(self):
        passes = [{"ops": [{"s": 1, "ok": True}] * 4}]
        self.assertEqual(metrics.failure_counts(passes, []), (4, 0))


class EndToEnd(unittest.TestCase):
    def test_medians_and_peak(self):
        result = {"setup_s": [3.0, 1.0, 2.0]}
        passes = [{"wall_s": 10.0, "cpu_s": 30.0, "rss_peak_mb": 100.0},
                  {"wall_s": 12.0, "cpu_s": 40.0, "rss_peak_mb": 300.0}]
        m = metrics.end_to_end(result, passes)
        self.assertEqual(m, {"setup_s": 2.0, "run_cpu_s": 35.0, "peak_rss_mb": 300.0})

    def test_op_median_counts_only_calls_that_succeeded(self):
        passes = [{"extra": {}, "ops": [{"s": 1.0, "ok": True}, {"s": 9.0, "ok": False},
                                        {"s": 3.0, "ok": True}]},
                  {"extra": {}, "ops": [{"s": 2.0, "ok": True}]}]
        for p, wall in zip(passes, [10.0, 12.0]):
            p["wall_s"] = wall
        d = metrics.workload_detail(passes)
        self.assertEqual((d["op_samples"], d["op_p50_s"], d["run_s"]), (3, 2.0, 11.0))


if __name__ == "__main__":
    unittest.main()
