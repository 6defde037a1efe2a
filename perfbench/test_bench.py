#!/usr/bin/env python3
"""Tests of the benchmark's own arithmetic.

    python3 perfbench/test_bench.py

Covers the tail percentile (and its Harrell-Davis estimate), interval
unions and span self times in
`metrics.py`, and (by building and running `FingerprintCheck`) the
fingerprint canonicalization of doubles, decimals, nulls and row order.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = M.tail(list(range(1, 101)))
        self.assertEqual((pct, n), (90.0, 100))
        # the order statistic at that percentile has exactly ten beyond it
        self.assertEqual(sum(1 for x in range(1, 101) if x > sorted(range(1, 101))[n - 11]), 10)
        # Harrell-Davis weights sample i over ((i-1)/n, i/n]: 0.9 * 100 + 0.5
        self.assertAlmostEqual(value, 90.5, delta=0.01)

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.5, 11.0, 10.0]
        self.assertEqual(M.tail(xs), M.tail(sorted(xs)))
        self.assertAlmostEqual(M.tail(xs)[1], 100.0 * 2 / 12)

    def test_eleven_samples_is_the_minimum(self):
        self.assertEqual(M.tail(list(range(11)))[1:], (100.0 * 1 / 11, 11))

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(M.tail([]), (0.0, 0.0, 0))

    def test_a_swap_across_a_gap_moves_the_tail_little(self):
        # 20 cheap and 10 dear samples: the tail sits on the gap; one cheap
        # sample turning dear moves the order statistic by the whole gap,
        # the Harrell-Davis estimate by a fraction of it
        cheap, dear = [0.5] * 20, [1.5] * 10
        before = M.tail(cheap + dear)[0]
        after = M.tail(cheap[1:] + dear + [1.5])[0]
        self.assertLess(after - before, 0.5)


class HarrellDavisTest(unittest.TestCase):
    def test_incomplete_beta_closed_forms(self):
        for x in (0.0, 0.1, 0.37, 0.5, 0.9, 1.0):
            self.assertAlmostEqual(M.incomplete_beta(1, 1, x), x, places=12)
            self.assertAlmostEqual(M.incomplete_beta(2, 2, x), 3 * x ** 2 - 2 * x ** 3, places=12)
            self.assertAlmostEqual(M.incomplete_beta(2.5, 7.5, x) + M.incomplete_beta(7.5, 2.5, 1 - x),
                                   1.0, places=12)

    def test_weights_sum_to_one_and_symmetry(self):
        self.assertAlmostEqual(M.harrell_davis([4.0] * 17, 0.8), 4.0, places=12)
        self.assertAlmostEqual(M.harrell_davis(list(range(21)), 0.5), 10.0, places=12)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(M.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_empty_and_inverted(self):
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(5, 5), (7, 3)]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        # two overlapping children cover [10, 40) and [50, 60): 40 of 100
        tree = M.SpanTree([[0, -1, "query", "q", "p1", 0, 100],
                           [1, 0, "build", "b", "p1", 10, 30],
                           [2, 0, "action", "a", "p1", 20, 40],
                           [3, 0, "action", "a", "p1", 50, 60]])
        self.assertEqual(tree.level_self_times(0, M.QUERY_LEVELS[:1]), [60, 40])

    def test_children_are_clipped_to_the_parent(self):
        tree = M.SpanTree([[0, -1, "query", "q", "p1", 0, 100],
                           [1, 0, "build", "b", "p1", -20, 10],
                           [2, 0, "action", "a", "p1", 90, 130]])
        self.assertEqual(tree.level_self_times(0, M.QUERY_LEVELS[:1]), [80, 20])

    def test_levels_add_up_to_the_wall_time(self):
        # query 0..100; build 0..30 with one job 5..25 (stage 10..20);
        # action 30..100 with two overlapping jobs 35..80 and 60..95, whose
        # stages 40..70 and 65..90 overlap; a stage running past its job
        # is clipped to it
        spans = [
            [0, -1, "query", "q", "p1", 0, 100],
            [1, 0, "build", "q build", "p1", 0, 30],
            [2, 0, "action", "q action", "p1", 30, 100],
            [3, 1, "job", "job 1", "p1", 5, 25],
            [4, 3, "stage", "stage 1", "p1", 10, 20],
            [5, 2, "job", "job 2", "p1", 35, 80],
            [6, 2, "job", "job 3", "p1", 60, 95],
            [7, 5, "stage", "stage 2", "p1", 40, 70],
            [8, 6, "stage", "stage 3", "p1", 65, 99],
        ]
        tree = M.SpanTree(spans)
        query, phase, job, stage = tree.level_self_times(0, M.QUERY_LEVELS)
        self.assertEqual(query, 0)                 # build+action cover the query
        self.assertEqual(phase, 100 - 20 - 60)     # jobs cover 5..25 and 35..95
        self.assertEqual(job, 80 - 10 - 55)        # stages cover 10..20 and 40..95
        self.assertEqual(stage, 65)
        self.assertEqual(query + phase + job + stage, 100)

    def test_idle_inside_an_action(self):
        self.assertEqual(M.idle_in((0, 100), [(10, 20), (15, 30), (90, 120)]), 70)


class FingerprintTest(unittest.TestCase):
    def test_canonicalization(self):
        import run
        classpath, _ = run.build(os.path.abspath(os.path.join(
            run.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")))
        cp = os.pathsep.join(classpath + [os.path.join(run.SPARK_JARS, "*")])
        p = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.FingerprintCheck"],
                           capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)


if __name__ == "__main__":
    unittest.main()
