"""Unit tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import oracle
import stats


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailPercentileTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        values = list(range(100))
        p, value, n = stats.tail_percentile(values)
        self.assertEqual((p, n), (90, 100))
        self.assertEqual(sum(v > value for v in values), 10)

    def test_rounds_the_percentile_down(self):
        self.assertEqual(stats.tail_percentile(list(range(13)))[0], 23)
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50)

    def test_small_samples_fall_back_to_the_minimum(self):
        self.assertEqual(stats.tail_percentile([5, 3, 9]), (0, 3, 3))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 4), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_touching_intervals_do_not_double_count(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 10)]), 10)

    def test_covered_clips_to_the_window(self):
        self.assertEqual(stats.covered((10, 20), [(0, 12), (15, 30), (40, 50)]), 7)
        self.assertEqual(stats.covered((10, 20), [(30, 40)]), 0)


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "startMs": start, "endMs": end}

    def test_self_time_subtracts_child_coverage(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 2, 12, 14)]
        self.assertEqual(stats.self_times(spans), {1: 60, 2: 18, 3: 30, 4: 2})

    def test_children_running_past_the_parent_are_clipped(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)]
        self.assertEqual(stats.self_times(spans)[1], 5)


class DigestTest(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        a = oracle.digest(["x", "y"], [(1, "a"), (2, "b")])
        b = oracle.digest(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["x", "y"], [(1, "a"), (2, "c")]))

    def test_floats_compare_exactly(self):
        self.assertNotEqual(oracle.digest(["v"], [(0.1 + 0.2,)]), oracle.digest(["v"], [(0.3,)]))

    def test_components_label_each_node_with_its_minimum(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"id_a": [5, 1, 7, 9], "id_b": [3, 3, 8, 8]}),
                           os.path.join(d, "part-0.parquet"))
            want = oracle.digest(["node", "component"],
                                 [(1, 1), (3, 1), (5, 1), (7, 7), (8, 7), (9, 7)])
            self.assertEqual(oracle.components_digest(d), want)


if __name__ == "__main__":
    unittest.main()
