"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402
from run import file_batches  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)  # 91..100 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 5
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_small_sample_falls_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail(list(range(10)))[0], 9)

    def test_eleven_samples(self):
        value, pct, n = stats.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_us": a, "end_us": b}

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 50),  # overlap 30..40
                 self.span(4, 1, 90, 120)]  # sticks out past the parent
        self.assertEqual(stats.self_times(spans)[1], 100 - 40 - 10)

    def test_leaf_and_nesting(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 2, 8), self.span(3, 2, 3, 4)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (4, 5, 1))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class JobCountCheck(unittest.TestCase):
    def test_flags_only_keys_whose_passes_differ(self):
        counts = {"a": [4, 4, 4], "b": [28, 30, 28], "c": [13]}
        self.assertEqual(stats.unstable_job_counts(counts), ["b"])


class FileBatches(unittest.TestCase):
    def test_source_log_offsets_map_to_micro_batches(self):
        def prog(b, off):
            return {"batchId": b, "sources": [
                {"description": "FileStreamSource[file:/x/in_c]", "endOffset": {"logOffset": 0}},
                {"description": "FileStreamSource[file:/x/in_o]",
                 "endOffset": None if off is None else {"logOffset": off}}]}
        progress = [prog(0, None), prog(1, 0), prog(2, 0), prog(3, 2)]
        log = {"o00000.json": 0, "o00001.json": 1, "o00002.json": 2, "c00000.json": 0}
        self.assertEqual(file_batches(log, progress),
                         {"o00000.json": 1, "o00001.json": 3, "o00002.json": 3})


if __name__ == "__main__":
    unittest.main()
