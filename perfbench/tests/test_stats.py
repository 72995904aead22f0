"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import report, stats  # noqa: E402


def sample(dur, ok=True, **kw):
    s = {"dur_s": dur, "ok": ok, "in_batch": True}
    s.update(kw)
    return s


class TailTest(unittest.TestCase):
    def test_needs_ten_beyond(self):
        # 19 samples: the median leaves 9 beyond it, so no percentile qualifies
        self.assertIsNone(stats.tail(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        value, p, n = stats.tail([float(x) for x in range(1, 21)])
        self.assertEqual((p, n), (50.0, 20))
        self.assertEqual(value, 10.5)  # the median: 10 samples beyond it

    def test_highest_qualifying_percentile(self):
        vals = [float(x) for x in range(1, 101)]
        self.assertEqual(stats.tail(vals)[1], 90.0)  # p95 would leave only 5
        vals = [float(x) for x in range(1, 1001)]
        self.assertEqual(stats.tail(vals)[1], 99.0)  # p99.9 would leave 1
        self.assertAlmostEqual(stats.tail(vals)[0], 990.01)

    def test_interpolation_and_misses(self):
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0], 100), 4.0)
        self.assertEqual(stats.percentile([1.0, stats.MISS, stats.MISS], 75), stats.MISS)
        self.assertEqual(stats.percentile([1.0, 2.0, stats.MISS], 50), 2.0)

    def test_every_qualifying_percentile_leaves_ten(self):
        for n in range(20, 400, 7):
            value, p, _ = stats.tail(list(range(n)))
            rank = math.ceil(p / 100 * n)
            self.assertGreaterEqual(n - rank, stats.TAIL_MIN_BEYOND)


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_empty_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 4)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_children_clipped_to_the_span(self):
        # a job that started before the call and one that ended after it
        self.assertEqual(stats.self_time((10, 20), [(5, 12), (18, 30)]), 6)

    def test_no_children_is_all_self(self):
        self.assertEqual(stats.self_time((0, 7), []), 7)

    def test_fully_covered_span(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 6), (4, 10)]), 0)


class ErrorAccountingTest(unittest.TestCase):
    def test_failed_call_is_a_miss_not_a_fast_sample(self):
        samples = [sample(1.0), sample(1.2), sample(0.001, ok=False, err="java.io.IOException")]
        lat = stats.latencies(samples)
        self.assertEqual(lat[2], stats.MISS)
        self.assertEqual(stats.median(lat), 1.2)  # the 1 ms throw did not pull it down

    def test_rate_and_exception_classes(self):
        samples = [sample(1.0), sample(0.1, ok=False, err="a.B"), sample(0.2, ok=False, err="a.B"),
                   sample(0.3, ok=False, err="c.D")]
        attempted, failed, rate, classes = stats.error_accounting(samples)
        self.assertEqual((attempted, failed, rate), (4, 3, 0.75))
        self.assertEqual(classes, {"a.B": 2, "c.D": 1})

    def test_tail_of_mostly_failed_calls_is_a_miss(self):
        samples = [sample(1.0)] * 9 + [sample(0.01, ok=False)] * 11
        value, p, _ = stats.tail(stats.latencies(samples))
        self.assertEqual(p, 50.0)  # 20 samples, the upper 11 misses
        self.assertEqual(report._finite(value), report.MISS_VALUE)

    def test_batch_with_a_failed_call_is_a_miss(self):
        timed = [sample(1.0), sample(2.0)]
        self.assertEqual(report.batch_s(timed), 3.0)
        timed.append(sample(0.01, ok=False))
        self.assertEqual(report.batch_s(timed), stats.MISS)

    def test_calls_outside_the_batch_do_not_count(self):
        timed = [sample(1.0), sample(5.0, in_batch=False)]
        self.assertEqual(report.batch_s(timed), 1.0)


class PlanAttributionTest(unittest.TestCase):
    def call(self, span, t0_us, dur_s, **kw):
        return sample(dur_s, span=span, t0_us=t0_us, **kw)

    def test_plan_of_a_call_is_counted_once(self):
        # a read that also carries a planning figure of its own: only the
        # listener's event for the same query counts
        calls = [self.call(1, 1_000_000, 0.5, plan_ms=7.0)]
        plans = [{"t0_us": 1_100_000, "plan_ms": 7.0}]
        self.assertEqual(dict(report.plan_ms_by_span(calls, plans)), {1: 7.0})
        run = {"samples": [dict(calls[0], phase="timed", cls="read", kind="read_back",
                                layer="tables", fs={}, gc_ms=0, persisted_rdds=0,
                                lock_retries=0)],
               "jobs": [], "stages": [], "plans": plans,
               "summary": {"end": {"live_files": {}, "timeline_instants": {}}}}
        self.assertEqual(report.per_layer(run, 4, {"error_rate": 0.0})["engine.plan_ms"], 7.0)

    def test_event_goes_to_the_call_running_then(self):
        calls = [self.call(1, 1_000_000, 0.5), self.call(2, 2_000_000, 0.5)]
        plans = [{"t0_us": 1_200_000, "plan_ms": 3.0}, {"t0_us": 2_100_000, "plan_ms": 4.0},
                 {"t0_us": 2_200_000, "plan_ms": 1.0}, {"t0_us": 1_700_000, "plan_ms": 9.0}]
        self.assertEqual(dict(report.plan_ms_by_span(calls, plans)), {1: 3.0, 2: 5.0})

    def test_millisecond_event_at_a_call_start(self):
        # the event's start is truncated to the millisecond, so it can read
        # up to 1 ms before its call began; it still belongs to that call,
        # not to the one that ended just before
        calls = [self.call(1, 1_000_000, 0.9996), self.call(2, 1_999_800, 0.5)]
        plans = [{"t0_us": 1_999_000, "plan_ms": 2.0}]
        self.assertEqual(dict(report.plan_ms_by_span(calls, plans)), {2: 2.0})


class AmplificationTest(unittest.TestCase):
    def test_write_amp(self):
        # 3 commits created 300 + 50 + 250 bytes for batches of 100 + 0 + 100
        self.assertEqual(stats.write_amp([300, 50, 250], [100, 0, 100]), 3.0)

    def test_space_amp(self):
        self.assertEqual(stats.space_amp([900, 300], [400, 200]), 2.0)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10.0] * 10), 0.0)
        vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.0, 10.5, 11.0, 10.0, 10.0]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.quartile_spread(vals), (q3 - q1) / q2)


if __name__ == "__main__":
    unittest.main()
