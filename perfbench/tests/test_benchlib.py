"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchlib  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile([5.0], 90), 5.0)

    def test_hundred_samples_give_p90_with_ten_beyond(self):
        self.assertEqual(benchlib.tail_pct(100), 90)
        xs = list(range(100))
        pct, value = benchlib.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_128_queries_give_p90(self):
        self.assertEqual(benchlib.tail_pct(128), 90)

    def test_fewer_samples_lower_the_percentile(self):
        # 26 samples: p61 leaves 10 beyond, p62 would leave only 9
        self.assertEqual(benchlib.tail_pct(26), 61)
        xs = list(range(26))
        _, value = benchlib.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(benchlib.tail_pct(20), 50)

    def test_every_level_keeps_ten_beyond(self):
        for n in range(20, 400):
            pct = benchlib.tail_pct(n)
            xs = list(range(n))
            value = benchlib.percentile(xs, pct)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)
            if pct < 90:
                higher = benchlib.percentile(xs, pct + 1)
                self.assertLess(sum(1 for x in xs if x > higher), 10, n)

    def test_too_few_samples_report_the_slowest(self):
        self.assertIsNone(benchlib.tail_pct(19))
        self.assertEqual(benchlib.tail([3.0, 9.0, 4.0]), (100, 9.0))


class BestOf(unittest.TestCase):
    def test_minimum_per_position(self):
        self.assertEqual(benchlib.best_of([[5, 2, 9], [4, 3, 8], [6, 1, 10]]), [4, 1, 8])

    def test_failed_samples_are_skipped(self):
        self.assertEqual(benchlib.best_of([[None, 2], [4, None]]), [4, 2])
        self.assertEqual(benchlib.best_of([[None, 2], [None, 3]]), [2])

    def test_single_repeat_is_itself(self):
        self.assertEqual(benchlib.best_of([[7.5, 1.0]]), [7.5, 1.0])


class SelfTime(unittest.TestCase):
    def span(self, id_, start, end, parent=0):
        return {"id": id_, "name": f"s{id_}", "start": start, "end": end,
                "parent": parent, "trace": 1}

    def test_children_are_subtracted(self):
        spans = [self.span(1, 0, 100), self.span(2, 10, 30, 1), self.span(3, 50, 60, 1)]
        own = benchlib.self_times(spans)
        self.assertEqual(own, {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 100), self.span(2, 10, 40, 1), self.span(3, 30, 50, 1)]
        self.assertEqual(benchlib.self_times(spans)[1], 60)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 10, 20), self.span(2, 5, 15, 1)]
        self.assertEqual(benchlib.self_times(spans)[1], 5)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 100), self.span(2, 0, 50, 1), self.span(3, 0, 40, 2)]
        own = benchlib.self_times(spans)
        self.assertEqual((own[1], own[2], own[3]), (50, 10, 40))

    def test_sum_by_name(self):
        spans = [self.span(1, 0, 10), self.span(2, 20, 25)]
        spans[1]["name"] = "s1"
        self.assertEqual(benchlib.self_time_by_name(spans), {"s1": 15})

    def test_prefix_ablation(self):
        own = benchlib.prefix_self_times([("scan", 1.0), ("adapt", 1.5), ("shape", 4.0)])
        self.assertEqual(own, {"scan": 1.0, "adapt": 0.5, "shape": 2.5})


class ErrorAccounting(unittest.TestCase):
    def test_counts_failures_against_attempts(self):
        self.assertEqual(benchlib.account([True, False, True, True]), (4, 1, 0.25))

    def test_all_ok(self):
        self.assertEqual(benchlib.account([True] * 7), (7, 0, 0.0))

    def test_nothing_attempted_is_a_total_failure(self):
        self.assertEqual(benchlib.account([]), (0, 0, 1.0))

    def test_checks_record_mismatches_and_keep_going(self):
        checks = run.Checks()
        checks.expect("rows", 5, 5)
        checks.expect("routes", {"noop": 1}, {"noop": 2})
        checks.op(True)
        self.assertEqual(benchlib.account(checks.outcomes), (3, 1, 1 / 3))
        self.assertEqual(len(checks.notes), 1)


class EndToEnd(unittest.TestCase):
    def test_p50_from_best_tail_from_raw_samples(self):
        # two repeats of three operations; the second repeat of op 1 was slow
        e2e = run.end_to_end([1.0, 3.0, 2.0], 3, [[10.0, 20.0, 30.0], [12.0, 90.0, 29.0]])
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["op_p50_ms"], 20.0)            # best of: 10, 20, 29
        self.assertAlmostEqual(e2e["items_per_s"], 3 / 0.059)
        self.assertEqual(e2e["op_tail_ms"], 90.0)           # slowest raw sample

    def test_failed_samples_are_left_out(self):
        e2e = run.end_to_end([1.0], 2, [[None, 5.0], [7.0, None]])
        self.assertEqual(e2e["op_tail_ms"], 7.0)
        self.assertEqual(e2e["op_p50_ms"], 6.0)


if __name__ == "__main__":
    unittest.main()
