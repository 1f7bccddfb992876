"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_quantile(19))
        self.assertEqual(stats.tail_quantile(20), 0.5)
        self.assertEqual(stats.tail_quantile(39), 0.5)
        self.assertEqual(stats.tail_quantile(40), 0.75)
        self.assertEqual(stats.tail_quantile(100), 0.9)
        self.assertEqual(stats.tail_quantile(199), 0.9)
        self.assertEqual(stats.tail_quantile(200), 0.95)
        self.assertEqual(stats.tail_quantile(1000), 0.99)
        self.assertEqual(stats.tail_quantile(10000), 0.999)

    def test_every_reported_tail_has_ten_samples_above_it(self):
        for n in range(20, 3000, 37):
            xs = list(range(n))
            q, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x >= v), 10, n)
            self.assertGreaterEqual(n * (1 - q), 10 - 1e-9)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(stats.percentile([5], 0.9), 5)
        self.assertAlmostEqual(stats.percentile(range(101), 0.9), 90)

    def test_too_few_samples_report_no_tail(self):
        self.assertEqual(stats.tail([1.0] * 12), (None, None))


class DueTimeTest(unittest.TestCase):
    def test_stall_makes_later_requests_late(self):
        # one request every 10 ms; the second stalls the only worker for
        # 100 ms, so the ones queued behind it start late
        recs, free = [], 0.0
        for i in range(6):
            due = 10.0 * i
            start = max(due, free)
            end = start + (100.0 if i == 1 else 1.0)
            free = end
            recs.append({"due_ms": due, "dispatch_ms": due, "start_ms": start, "end_ms": end})
        service = [r["end_ms"] - r["start_ms"] for r in recs]
        due_lat = stats.due_latencies(recs)
        self.assertEqual(service, [1.0, 100.0, 1.0, 1.0, 1.0, 1.0])
        self.assertEqual(due_lat, [1.0, 100.0, 91.0, 82.0, 73.0, 64.0])
        self.assertGreater(stats.percentile(due_lat, 0.5), stats.percentile(service, 0.5))

    def test_generator_lateness(self):
        recs = [{"due_ms": 0.0, "dispatch_ms": 0.5}, {"due_ms": 10.0, "dispatch_ms": 13.0}]
        self.assertEqual(stats.lateness(recs), [0.5, 3.0])


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)

    def test_no_values_or_a_zero_give_zero(self):
        self.assertEqual(stats.geomean([]), 0.0)
        self.assertEqual(stats.geomean([3.0, 0.0]), 0.0)


class SummaryTest(unittest.TestCase):
    RAW = {"setup_s": [1.0, 2.0, 3.0], "window_s": 12.0}

    def test_failed_operations_are_not_latency_samples(self):
        ops = [{"monitor": "cusum", "ms": ms, "rows": 10, "ok": True} for ms in (400.0, 500.0)]
        ops.append({"monitor": "cusum", "ms": 0.0, "rows": 0, "ok": False})
        ops.append({"monitor": "hist", "ms": 0.0, "rows": 0, "ok": False})
        named, values = run.summarize("alert", dict(self.RAW, ops=ops))
        self.assertEqual(named["samples"], {"cusum": 2})
        self.assertAlmostEqual(values["latency_ms"], 425.0)
        self.assertAlmostEqual(values["throughput_per_s"], 20 / 0.9)
        self.assertEqual(values["setup_s"], 2.0)

    def test_serve_latency_is_due_time_and_a_failed_kind_is_left_out(self):
        def rec(kind, due, start, end, ok):
            return {"kind": kind, "due_ms": due, "dispatch_ms": due, "start_ms": start,
                    "end_ms": end, "ok": ok}
        recs = [rec("write", 0.0, 5.0, 6.0, True), rec("query", 0.0, 0.0, 1.0, False)]
        named, values = run.summarize("serve", dict(self.RAW, requests=recs))
        self.assertEqual(named["samples"], {"write": 1})
        self.assertEqual(values["latency_ms"], 6.0)
        # the failed query's busy time is its own kind's, not the writes'
        self.assertAlmostEqual(values["throughput_per_s"], 1 / 0.001)

    def test_board_throughput_is_keys_per_second_of_a_pass_at_mean_times(self):
        ops = [{"key": "a", "ms": 100.0}, {"key": "a", "ms": 300.0}, {"key": "b", "ms": 800.0}]
        named, values = run.summarize("board", dict(self.RAW, ops=ops, passes=2))
        self.assertAlmostEqual(values["throughput_per_s"], 2 / 1.0)

    def test_a_run_with_no_successes_still_summarizes(self):
        ops = [{"monitor": "cusum", "ms": 0.0, "rows": 0, "ok": False}]
        named, values = run.summarize("alert", dict(self.RAW, ops=ops))
        self.assertEqual(values["latency_ms"], 0.0)
        self.assertEqual(values["throughput_per_s"], 0.0)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, name, s, e):
        return {"id": i, "parent": parent, "name": name, "start_ns": s, "end_ns": e}

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, 0, "req", 0, 100),
                 self.span(2, 1, "parse", 10, 30),
                 self.span(3, 1, "plan", 40, 90),
                 self.span(4, 3, "exec", 50, 80)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 30, 2: 20, 3: 20, 4: 30})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, "req", 0, 100),
                 self.span(2, 1, "a", 10, 60),
                 self.span(3, 1, "b", 40, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, "req", 0, 100), self.span(2, 1, "late", 90, 150)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_summary_means(self):
        spans = [self.span(1, 0, "req", 0, 100), self.span(2, 1, "x", 0, 40),
                 self.span(3, 0, "req", 200, 260)]
        s = stats.span_summary(spans)
        self.assertEqual(s["req"], (2, 80.0, 60.0))
        self.assertEqual(s["x"], (1, 40.0, 40.0))


if __name__ == "__main__":
    unittest.main()
