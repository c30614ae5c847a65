"""Self-tests of the accounting (run by `run.py` before every run, or
`python3 -m unittest discover perfbench`).
"""
import unittest

from stats import layer_split, percentile, tail_percentile, union


class UnionTest(unittest.TestCase):
    def test_disjoint_and_nested(self):
        self.assertEqual(union([(0, 1), (2, 3)]), 2)
        self.assertEqual(union([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(union([]), 0)

    def test_touching_and_unsorted(self):
        self.assertEqual(union([(5, 7), (0, 2), (2, 5)]), 7)

    def test_x195_shaped_overlap(self):
        """Executions overlapped through Par: summed, they claim 28.4 s of
        a 24.4 s op (the over-count a sum-of-executions probe reports); as
        a union they fit inside the op and leave a non-negative gap.
        """
        wall = (0.0, 24.4)
        # a text build and an ANN build overlapped, then the serves in turn
        execs = [(0.3, 6.3), (0.5, 4.5), (4.6, 7.0), (7.2, 12.2), (12.5, 15.5),
                 (15.6, 19.0), (19.2, 23.8)]
        total = sum(e - s for s, e in execs)
        self.assertAlmostEqual(total, 28.4, places=6)
        self.assertGreater(total, wall[1] - wall[0])
        covered = union(execs)
        self.assertAlmostEqual(covered, 22.7, places=6)
        gap = (wall[1] - wall[0]) - covered
        self.assertGreaterEqual(gap, 0.0)
        self.assertAlmostEqual(gap, 1.7, places=6)


class SplitTest(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        spans = [("parent", 0, 10, 0), ("a", 1, 4, 1), ("b", 2, 6, 1), ("c", 8, 10, 1)]
        self.assertEqual(layer_split((0, 10), spans, [])["parent"], 3)

    def test_split_sums_to_wall_under_overlap(self):
        op = (0.0, 24.4)
        spans = [("build", 0.2, 7.1, 0), ("text", 0.3, 6.4, 1), ("ann", 0.4, 7.0, 1),
                 ("serve", 7.1, 24.3, 0)]
        execs = [(0.3, 6.3), (0.5, 4.5), (4.6, 7.0), (7.2, 12.2), (12.5, 15.5),
                 (15.6, 19.0), (19.2, 23.8), (30.0, 31.0)]
        parts = layer_split(op, spans, [(s, min(e, op[1])) for s, e in execs
                                        if s < op[1]])
        self.assertAlmostEqual(sum(parts.values()), 24.4, places=6)
        self.assertAlmostEqual(parts["op"], 0.2 + 0.1, places=6)
        # overlapped siblings: each instant goes to one of them only
        self.assertAlmostEqual(parts["ann/exec"] + parts.get("ann", 0.0)
                               + parts["text/exec"] + parts.get("text", 0.0)
                               + parts.get("build", 0.0) + parts.get("build/exec", 0.0),
                               6.9, places=6)

    def test_split_without_spans(self):
        self.assertEqual(layer_split((0, 4), [], [(1, 2)]), {"op": 3, "op/exec": 1})


class TailTest(unittest.TestCase):
    def test_at_least_ten_beyond(self):
        self.assertIsNone(tail_percentile(10))
        self.assertEqual(tail_percentile(11), 9)
        self.assertEqual(tail_percentile(20), 50)
        self.assertEqual(tail_percentile(100), 90)
        self.assertEqual(tail_percentile(1000), 99)
        for n in range(11, 400):
            p = tail_percentile(n)
            beyond = lambda q: n - -(-q * n // 100)  # noqa: E731
            self.assertGreaterEqual(beyond(p), 10, n)
            self.assertLess(beyond(p + 1), 10, n)

    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(percentile(v, 90), 90)
        self.assertEqual(percentile(v, 50), 50)
        self.assertEqual(percentile(v[:20], 50), 10)


if __name__ == "__main__":
    unittest.main()
