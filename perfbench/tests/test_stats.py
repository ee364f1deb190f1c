"""Tests of the benchmark's percentile and self-time helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def span(i, parent, start, end, name="x.y"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "name": name}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile(xs, 90), 37)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([7.5], 90), 7.5)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 100)]), {1: 100})

    def test_children_are_subtracted(self):
        st = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)])
        self.assertEqual(st, {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        st = stats.self_times([span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 60)])
        self.assertEqual(st[1], 50)

    def test_children_are_clipped_to_the_parent(self):
        st = stats.self_times([span(1, 0, 0, 100), span(2, 1, 90, 150), span(3, 1, 200, 300)])
        self.assertEqual(st[1], 90)

    def test_grandchildren_only_reduce_their_own_parent(self):
        st = stats.self_times([span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 20)])
        self.assertEqual(st, {1: 50, 2: 30, 3: 20})

    def test_layer_self_ms_groups_by_name_prefix(self):
        spans = [span(1, 0, 0, 4_000_000, "streaming.addBatch"),
                 span(2, 1, 0, 3_000_000, "sinks.write0"),
                 span(3, 0, 0, 2_000_000, "sinks.write1")]
        self.assertEqual(stats.layer_self_ms(spans), {"streaming": 1.0, "sinks": 5.0})


if __name__ == "__main__":
    unittest.main()
