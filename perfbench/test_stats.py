"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_omitted_under_forty_ops(self):
        for n in (0, 1, 39):
            self.assertIsNone(stats.tail_percentile(n))
        self.assertIsNone(stats.op_tail([0.1] * 39))

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_at_least_ten_samples_lie_beyond_the_reported_value(self):
        for n in range(40, 400, 7):
            values = [float(i) for i in range(n)]
            p, v = stats.op_tail(values)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, n)
            self.assertEqual(p, stats.tail_percentile(n))

    def test_nearest_rank_percentile(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 90), 90)
        self.assertEqual(stats.percentile(values, 99), 99)
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)


class OpAccounting(unittest.TestCase):
    def result(self, ops, wall=10.0):
        return {"ops": ops, "wall_s": wall, "cpu_s": 20.0,
                "setup_s": 9.0, "live_heap_mb": 100.0}

    def test_failed_ops_are_counted_and_keep_their_time(self):
        ops = [["a", 1.0, True], ["b", 5.0, False], ["a", 1.0, True], ["b", 3.0, True]]
        attempted, failed, m = stats.end_to_end(self.result(ops))
        self.assertEqual((attempted, failed), (4, 1))
        # the failed op's 5 s stays in the 10 s wall: 3 completed ops in 10 s
        self.assertAlmostEqual(m["ops_per_s"], 0.3)
        # latency is over completed ops only (b's median is 3, not 4); CPU is
        # shared over every attempt
        self.assertAlmostEqual(m["op_p50_s"], 3.0 ** 0.5)
        self.assertAlmostEqual(m["cpu_s_per_op"], 5.0)

    def test_a_crash_makes_the_run_look_slower_not_faster(self):
        ok = [["a", 1.0, True]] * 10
        crashed = [["a", 1.0, True]] * 9 + [["a", 1.0, False]]
        _, _, good = stats.end_to_end(self.result(ok))
        _, failed, bad = stats.end_to_end(self.result(crashed))
        self.assertEqual(failed, 1)
        self.assertLess(bad["ops_per_s"], good["ops_per_s"])

    def test_op_p50_is_the_median_over_op_names(self):
        ops = [["a", 0.1, True], ["b", 0.3, True], ["c", 0.9, True]] * 3
        self.assertAlmostEqual(stats.op_p50(ops), 0.3)
        # a round more moves it by that round's latencies, not to another
        # op's level: the pooled median of `ops` plus one cheap round is 0.1
        more = ops + [["a", 0.1, True], ["b", 0.1, True], ["c", 0.1, True]]
        self.assertAlmostEqual(stats.op_p50(more), 0.3)
        # every op's latency moves it
        slower = [[n, s * 1.5 if n == "c" else s, ok] for n, s, ok in ops]
        self.assertAlmostEqual(stats.op_p50(slower), 0.3 * 1.5 ** (1 / 3))
        # one op name: the plain median of its completed runs
        self.assertEqual(stats.op_p50([["a", 1.0, True], ["a", 3.0, True], ["a", 9.0, False]]), 2.0)

    def test_every_metric_is_defined(self):
        _, _, m = stats.end_to_end(self.result([["a", 1.0, True]]))
        self.assertEqual(sorted(m), sorted(n for n, _, _ in stats.END_TO_END))


class PerLayer(unittest.TestCase):
    def test_means_per_op_and_zero_for_unreached_layers(self):
        trace = {"run": {"source.scan_s": 0.5, "jvm.jit_s": 7.0}, "ops": [
            {"op": "df.q", "family": "tpch",
             "figures": {"op_s": 1.0, "exec.tasks": 4.0, "exec.task_s": 2.0}},
            {"op": "df.q", "family": "tpch",
             "figures": {"op_s": 3.0, "exec.tasks": 8.0, "exec.task_s": 6.0}},
        ]}
        m = stats.per_layer(trace, cpus=4)
        self.assertEqual(sorted(m), sorted(n for n, _ in stats.PER_LAYER))
        self.assertEqual(m["exec.tasks"], 6.0)
        self.assertEqual(m["queries.family.tpch_s"], statistics.median([1.0, 3.0]))
        self.assertEqual(m["streaming.trigger_s"], 0.0)
        self.assertAlmostEqual(m["exec.core_busy"], 8.0 / (4.0 * 4))
        self.assertEqual(m["source.scan_s"], 0.5)


class Declaration(unittest.TestCase):
    def test_benchmark_json_declares_what_runs_report(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], stats.PER_LAYER)
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
