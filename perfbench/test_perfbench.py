#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # arithmetic and checking
    PERFBENCH_JVM_TESTS=1 python3 perfbench/test_perfbench.py
                                                   # + checksum invariance

The invariance test builds the program and runs every benchmark query at
sf0.1 twice in one JVM, under 1 and under 4 shuffle partitions (a few
minutes on 4 cores).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 1001))
        v, p = stats.tail(xs, 99)
        self.assertEqual(v, 990)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 99.0)

    def test_tail_lowered_when_samples_are_few(self):
        xs = list(range(1, 101))
        v, p = stats.tail(xs, 99)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 90.0)
        self.assertEqual(stats.tail(xs, 80), (80, 80.0))

    def test_tail_never_below_median(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.tail(xs, 99), (3, 60.0))
        self.assertEqual(stats.tail([7.5], 90), (7.5, 100.0))
        self.assertEqual(stats.tail([4, 1, 3, 2], 90), (3, 75.0))

    def test_tail_is_order_free(self):
        xs = [float(i * 37 % 101) for i in range(500)]
        self.assertEqual(stats.tail(xs, 99), stats.tail(sorted(xs), 99))


class StreamLatency(unittest.TestCase):
    def test_one_slow_burst_does_not_set_the_tail(self):
        calm = [100.0] * 1000 + [300.0] * 20
        slow = [100.0] * 1000 + [900.0] * 40  # pooled, the p99 would be 900
        raw = {"setup_end_epoch_ms": 0.0, "stream": {
            "latency_ms_by_cycle": [calm, slow, calm], "wall_s": 3.0,
            "drain_events_per_s": 2000.0,
            "batches": [{"durations_ms": {"triggerExecution": 500}}]}}
        m = run.end_to_end(raw, 0.0, 1.0)
        self.assertEqual(m["event_latency_p99_ms"][0], 300.0)
        self.assertEqual(m["event_latency_p50_ms"][0], 100.0)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name="s"):
        return {"id": i, "parent": parent, "name": name,
                "start_ms": start, "end_ms": end}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 10, "root"), self.span(2, 1, 1, 3),
                 self.span(3, 1, 2, 5), self.span(4, 1, 8, 12)]
        own = stats.self_times(spans)
        # children cover [1, 5] and [8, 10] of the root
        self.assertAlmostEqual(own[1], 4.0)
        self.assertAlmostEqual(own[2], 2.0)
        self.assertAlmostEqual(own[4], 4.0)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 0, 10, "a"), self.span(2, 1, 2, 8, "b"),
                 self.span(3, 2, 3, 7, "c")]
        self.assertEqual(stats.self_by_name(spans), {"a": 4.0, "b": 2.0, "c": 4.0})

    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(9, 0, 2.5, 4.0)]), {9: 1.5})


class OutputCheck(unittest.TestCase):
    def ops(self, *rows):
        return {"ops": [{"name": n, "rows": r, "sum": s, "error": e,
                         "build_jobs": j, "action_jobs": 1}
                        for n, r, s, e, j in rows]}

    def test_matching_run_has_no_failures(self):
        exp = {"q_a": {"rows": 3, "sum": "17"}}
        raw = self.ops(("q_a", 3, "17", None, 2), ("q_a", 3, "17", None, 2))
        self.assertEqual(run.check_ops(raw, exp), (2, []))

    def test_wrong_expected_value_fails(self):
        exp = {"q_a": {"rows": 3, "sum": "18"}}
        raw = self.ops(("q_a", 3, "17", None, 2))
        attempted, failed = run.check_ops(raw, exp)
        self.assertEqual((attempted, len(failed)), (1, 1))

    def test_error_and_changed_job_count_fail(self):
        exp = {"q_a": {"rows": 3, "sum": "17"}, "q_b": {"rows": 1, "sum": "5"}}
        raw = self.ops(("q_a", 3, "17", None, 2), ("q_b", -1, "", "boom", 0),
                       ("q_a", 3, "17", None, 3))
        _, failed = run.check_ops(raw, exp)
        self.assertEqual([n for n, _ in failed], ["q_b", "q_a"])

    def test_every_benchmark_query_has_an_expected_value(self):
        exp = run.load_expected()
        with open(os.path.join(HERE, "src", "graft", "perfbench", "Batch.scala")) as f:
            body = f.read().split("val TrendQueries")[1].split("val CorpusWarmUp")[0]
        names = set(re.findall(r'"(q_\w+)"', body))
        self.assertTrue(names)
        self.assertEqual(names - set(exp), set())


@unittest.skipUnless(os.environ.get("PERFBENCH_JVM_TESTS") == "1",
                     "set PERFBENCH_JVM_TESTS=1 to run the JVM checks")
class ChecksumInvariance(unittest.TestCase):
    def test_shuffle_partitions_1_and_4_agree(self):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--invariance",
             ",".join(sorted(run.load_expected()))],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        by = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(by["1"]), set(run.load_expected()))
        self.assertEqual(by["1"], by["4"])
        self.assertEqual(by["4"], run.load_expected())


if __name__ == "__main__":
    unittest.main()
