"""Tests of the benchmark's arithmetic: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_p90_of_100_has_ten_beyond(self):
        samples = [float(i) for i in range(1, 101)]
        self.assertEqual(stats.tail_percentile(samples, 0.90), (90.0, 10))

    def test_fewer_samples_leave_fewer_beyond(self):
        self.assertEqual(stats.tail_percentile([float(i) for i in range(99)], 0.90), (89.0, 9))
        self.assertEqual(stats.tail_percentile([float(i) for i in range(12)], 0.90), (10.0, 1))

    def test_small_sets_collapse_to_the_maximum(self):
        self.assertEqual(stats.tail_percentile([3.0, 1.0, 2.0], 0.90), (3.0, 0))

    def test_order_of_samples_does_not_matter(self):
        samples = [float((i * 37) % 200) for i in range(200)]
        self.assertEqual(stats.tail_percentile(samples, 0.90),
                         stats.tail_percentile(sorted(samples), 0.90))

    def test_median_rank(self):
        self.assertEqual(stats.tail_percentile([1.0] * 10 + [2.0] * 10, 0.5), (1.0, 10))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile([], 0.9)


class JobUnionTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(stats.interval_union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [[0, 4], [5, 7]])

    def test_empty_intervals_are_dropped(self):
        self.assertEqual(stats.interval_union([(2, 2), (3, 1)]), [])

    def test_serial_jobs_leave_the_gaps_to_the_driver(self):
        gap, overlap, busy = stats.job_split(10.0, [(1, 3), (5, 8)])
        self.assertEqual((gap, overlap, busy), (5.0, 1.0, 5.0))

    def test_concurrent_jobs_overlap(self):
        # two jobs side by side over [2, 6] and a third inside them
        gap, overlap, busy = stats.job_split(8.0, [(2, 6), (2, 6), (3, 4)])
        self.assertEqual((gap, busy), (4.0, 4.0))
        self.assertAlmostEqual(overlap, 9.0 / 4.0)

    def test_jobs_are_clipped_to_the_query(self):
        gap, overlap, busy = stats.job_split(4.0, [(-1, 1), (3, 9)])
        self.assertEqual((gap, overlap, busy), (2.0, 1.0, 2.0))

    def test_no_jobs(self):
        self.assertEqual(stats.job_split(2.5, []), (2.5, 1.0, 0))


class QueryOrderTest(unittest.TestCase):
    names = [f"q{i:02d}" for i in range(40)]

    def test_is_a_permutation(self):
        self.assertEqual(sorted(stats.query_order(self.names, 7)), sorted(self.names))

    def test_same_seed_same_order_whatever_the_input_order(self):
        self.assertEqual(stats.query_order(self.names, 7),
                         stats.query_order(list(reversed(self.names)), 7))

    def test_seeds_differ(self):
        orders = {tuple(stats.query_order(self.names, s)) for s in range(10)}
        self.assertEqual(len(orders), 10)

    def test_fixed_seed_is_stable(self):
        # pinned, so a change of generator cannot silently re-order runs
        self.assertEqual(stats.query_order(["a", "b", "c", "d", "e"], 1),
                         ["c", "d", "e", "a", "b"])


if __name__ == "__main__":
    unittest.main()
