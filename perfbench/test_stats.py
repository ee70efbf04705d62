"""Tests of the benchmark's pure helpers.

Run from the repository root: python3 -m unittest discover -s perfbench
"""

import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_sample_count_rule(self):
        self.assertEqual(stats.min_samples(50), 1)
        self.assertEqual(stats.min_samples(75), 40)
        self.assertEqual(stats.min_samples(90), 100)
        self.assertEqual(stats.min_samples(99), 1000)

    def test_p90_needs_100_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 90)
        self.assertAlmostEqual(stats.percentile(list(range(100)), 90), 89.1)

    def test_median_interpolates(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([4, 1, 2, 3], 50), 2.5)
        self.assertEqual(stats.percentile([7], 50), 7)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10] * 10), 0.0)
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end, qid=1):
        return {"id": i, "name": f"s{i}", "qid": qid, "parent": parent,
                "start": start, "end": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 self.span(4, 1, 90, 120)]
        got = stats.self_times(spans)
        # children cover 10..50 and 90..100 (clipped to the parent)
        self.assertEqual(got[1], 50)
        self.assertEqual(got[2], 20)
        self.assertEqual(got[4], 30)

    def test_orphans_attach_to_innermost_span_of_their_query(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 40), self.span(3, 1, 40, 100),
                 self.span(-1, -1, 45, 60), self.span(-2, -1, 5, 10, qid=2)]
        got = {s["id"]: s["parent"] for s in stats.attach_orphans(spans)}
        self.assertEqual(got[-1], 3)
        self.assertEqual(got[-2], 0)  # no span of query 2 holds it
        self.assertEqual(stats.self_times(stats.attach_orphans(spans))[3], 45)


class RatioTest(unittest.TestCase):
    def test_rows_per_result(self):
        self.assertEqual(stats.rows_per_result([2000, 1000], [10, 10]), 150)
        # a call returning nothing counts as one row
        self.assertEqual(stats.rows_per_result([100, 0], [0, 0]), 50)

    def test_closed_loop_rate(self):
        # client 0: 2 done by t=4; client 1: 3 done by t=6
        done = [(0, 2), (0, 4), (1, 2), (1, 4), (1, 6)]
        self.assertAlmostEqual(stats.closed_loop_rate(done, 0), 2 / 4 + 3 / 6)


if __name__ == "__main__":
    unittest.main()
