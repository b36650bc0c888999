#!/usr/bin/env python3
"""Self-tests for the benchmark's own logic.

    python3 perfbench/test_bench.py          # statistics and span arithmetic
    PERFBENCH_JVM_TESTS=1 python3 perfbench/test_bench.py
                                             # also the JVM-backed tests: an
                                             # injected wrong answer and feed
                                             # determinism (builds if needed)
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

JVM = os.environ.get("PERFBENCH_JVM_TESTS") == "1"


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        # Nearest rank: p90 of 1..100 is 90, with 91..100 (ten) beyond it;
        # p91 would leave only nine.
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90, 100))

    def test_twenty_samples_give_the_median(self):
        self.assertEqual(stats.tail(list(range(20))), (50, 9, 20))

    def test_eleven_samples_give_the_minimum(self):
        p, v, n = stats.tail([5.0] + [9.0] * 10)
        self.assertEqual((v, n), (5.0, 11))
        self.assertLessEqual(p, 9)

    def test_ten_or_fewer_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (100, 3, 3))

    def test_order_does_not_matter(self):
        xs = [0.3, 2.5, 0.1, 0.9, 1.2, 0.4, 0.8, 0.7, 0.6, 0.5, 1.1, 0.2, 3.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[2], len(xs))


def span(i, parent, layer, s, e):
    return {"id": i, "parent": parent, "layer": layer, "start_ms": s, "end_ms": e}


class SelfTime(unittest.TestCase):
    def test_children_covering_overlapping_and_outside(self):
        parent = span(1, -1, "query", 0, 100)
        kids = [span(2, 1, "a", 10, 30), span(3, 1, "b", 20, 50),
                span(4, 1, "c", 90, 120)]
        # Covered: [10, 50] and [90, 100] -> 50 of 100 ms.
        self.assertEqual(stats.self_ms(parent, kids), 50)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_ms(span(1, -1, "x", 5, 12.5), []), 7.5)

    def test_by_layer_sums_each_span_once(self):
        spans = [span(1, -1, "query", 0, 100), span(2, 1, "build", 0, 40),
                 span(3, 2, "build.job", 10, 30), span(4, 1, "exec", 40, 100),
                 span(5, 4, "exec.job", 50, 90)]
        self.assertEqual(stats.self_ms_by_layer(spans), {
            "query": 0, "build": 20, "build.job": 20, "exec": 20, "exec.job": 40})


class TraceOverhead(unittest.TestCase):
    def test_neighbours_cancel_a_steady_drift(self):
        # Untraced passes speed up by 0.1 s per pass; traced ones cost 0.05 s more.
        passes = [(i % 2 == 1, 3.0 - 0.1 * i + (0.05 if i % 2 else 0)) for i in range(7)]
        self.assertAlmostEqual(stats.trace_overhead(passes), 0.05)


class ErrorAccounting(unittest.TestCase):
    def test_raised_and_wrong_results_both_count(self):
        ops = [{"name": "q1", "group": "q1#0", "error": None},
               {"name": "q2", "group": "q2#0", "error": "boom"},
               {"name": "q3", "group": "q3#0", "error": None},
               {"name": "q3", "group": "q3#1", "error": None},
               {"name": "drain", "group": "drain#2", "error": None}]
        bad = stats.failed_ops(ops, {"q3": "rows differ", "drain#2": "late rows"})
        self.assertEqual([o["group"] for o in bad], ["q2#0", "q3#0", "q3#1", "drain#2"])


@unittest.skipUnless(JVM, "set PERFBENCH_JVM_TESTS=1 to run the JVM-backed tests")
class WithJvm(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import run
        cls.bench = run
        cls.cp = run.build(run.source_stamp())

    def test_injected_wrong_answer_counts_in_error_rate(self):
        p = subprocess.run(
            [sys.executable, os.path.join(self.bench.HERE, "run.py"), "--workload", "rel-tpch",
             "--seed", "1", "--seconds", "1", "--trace", "0",
             "--inject-wrong", "rel_q6_forecast_revenue"],
            cwd=self.bench.ROOT, text=True, capture_output=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        # Only the final pass is corrupted: repeat executions are checked.
        self.assertIn("WRONG rel_q6_forecast_revenue: last run:", p.stdout)
        self.assertNotIn("WRONG rel_q1_pricing_summary", p.stdout)

    def test_same_seed_gives_byte_identical_feed(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(self.bench.BUILD, "tmp")) as d:
            def feed(name, seed):
                out = os.path.join(d, name)
                subprocess.run(self.bench.java_cmd(self.cp, "perfbench.Main", [
                    "--feed-only", out, "--seed", seed], "2g"), check=True,
                    timeout=120, capture_output=True)
                return out
            a, b, c = feed("a", 7), feed("b", 7), feed("c", 8)
            names = sorted(os.listdir(a))
            self.assertTrue(names)
            self.assertEqual(names, sorted(os.listdir(b)))
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            match, mismatch, errors = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertEqual(match, [])


if __name__ == "__main__":
    unittest.main()
