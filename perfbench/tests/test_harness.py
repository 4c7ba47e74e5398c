"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import re
import statistics
import sys
import tempfile
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from harness import corpus, layers, stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(39)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(40)))[0], 75.0)
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(199)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(10000)))[0], 99.9)

    def test_value_has_ten_beyond_it(self):
        xs = [float(i) for i in range(1, 101)]
        q, v = stats.tail(xs)
        self.assertEqual(v, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5, 6], 90), 6)
        self.assertEqual(stats.percentile([5], 90), 5)

    def test_interpolated_quantile(self):
        self.assertEqual(stats.quantile([5], 90), 5)
        self.assertEqual(stats.quantile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(stats.quantile([1, 2, 3, 4, 5, 6], 90), 5.5)
        xs = [0.3, 1.7, 2.2, 4.0, 9.5, 6.1, 2.8]
        self.assertAlmostEqual(stats.quantile(xs, 90),
                               statistics.quantiles(xs, n=10, method="inclusive")[8])

    def test_summary_reports_count(self):
        s = stats.summary([1.0, 2.0, 3.0])
        self.assertEqual((s["median"], s["n"], s["tail_pct"]), (2.0, 3, None))


class UnionTest(unittest.TestCase):
    def test_overlap_nesting_and_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (1.5, 2.5), (5, 6)]), 4)

    def test_unsorted_and_touching(self):
        self.assertEqual(stats.union_length([(4, 5), (0, 1), (1, 2)]), 3)

    def test_clip(self):
        self.assertEqual(stats.union_length([(-5, 1), (2, 20)], 0, 10), 9)

    def test_empty_and_degenerate(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(stats.union_length([(0, 1)], 2, 3), 0)


class SelfTimeTest(unittest.TestCase):
    def test_minus_covered_children(self):
        # children cover 1..4 and 8..10 of the span, overlap counted once
        self.assertEqual(stats.self_time(0, 10, [(1, 3), (2, 4), (8, 12)]), 5)

    def test_no_children(self):
        self.assertEqual(stats.self_time(2, 7, []), 5)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time(0, 4, [(-1, 2), (2, 5)]), 0)


class ParentJobsTest(unittest.TestCase):
    def test_property_then_time_containment(self):
        spans = [
            {"id": 0, "parent": -1, "kind": "query", "name": "q", "start": 0, "end": 10},
            {"id": 1, "parent": 0, "kind": "phase", "name": "build", "start": 0, "end": 4},
            {"id": 2, "parent": 0, "kind": "phase", "name": "exec", "start": 4, "end": 10},
        ]
        jobs = [{"id": 7, "parent": 2, "start": 1}, {"id": 8, "parent": -1, "start": 2},
                {"id": 9, "parent": -1, "start": 11}]
        got = {j: s["name"] for j, s in layers.parent_jobs(spans, jobs).items()}
        self.assertEqual(got, {7: "exec", 8: "build"})


class CorpusTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, name, seed):
        out = os.path.join(self.tmp.name, name)
        return out, corpus.generate(seed, out, 300_000, 3)

    def test_same_seed_same_bytes_and_truth(self):
        a, ta = self.gen("a", 7)
        b, tb = self.gen("b", 7)
        self.assertEqual(ta, tb)
        names = ta["files"] + ["truth.json"]
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_corpus(self):
        a, ta = self.gen("a", 7)
        b, tb = self.gen("b", 8)
        self.assertNotEqual(ta, tb)
        self.assertFalse(filecmp.cmp(os.path.join(a, ta["files"][0]),
                                     os.path.join(b, tb["files"][0]), shallow=False))

    def test_truth_matches_the_word_model(self):
        out, t = self.gen("a", 3)
        counts = Counter()
        for f in t["files"]:
            with open(os.path.join(out, f)) as fh:
                for line in fh:
                    counts.update(w for w in re.split("[ \t\n\r]+", line) if w)
        top = sorted(counts.items(), key=lambda wc: (-wc[1], wc[0]))[:10]
        self.assertEqual(sum(counts.values()), t["total"])
        self.assertEqual(len(counts), t["distinct"])
        self.assertEqual([list(wc) for wc in top], t["top"])
        self.assertEqual(counts[t["term"]], t["term_count"])
        self.assertGreater(t["term_count"], 0)
        with open(os.path.join(out, "truth.json")) as fh:
            self.assertEqual(json.load(fh), t)


if __name__ == "__main__":
    unittest.main()
