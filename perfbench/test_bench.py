"""Tests of the benchmark's own statistics and of its input generator.

    python3 perfbench/test_bench.py
"""
import hashlib
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(reversed(xs), 100), 10)

    def test_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.tail_percentile(100), 90)
        # one sample short of ten beyond p90: fall back to p75
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class SpanArithmetic(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_is_span_minus_union_of_children(self):
        # children overlap each other and one runs past the span's end
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_driver_gap_counts_overlapping_jobs_once(self):
        jobs = [(10, 30), (20, 40), (50, 60), (90, 120), (-5, 0)]
        self.assertEqual(stats.driver_gap((0, 100), jobs), 50)


class GeneratorDeterminism(unittest.TestCase):
    # sha256 of the operation lists of seed 7, pinned: a change to the
    # generator that changes what a seed means must update these on purpose
    PINNED = {
        "notebook": "8f2b2020c87511b9bfad1ef6981a664abf6fe532a6bd243e9d72865a107fc6dd",
        "stores": "2c5cd27baf7b4b661d8290f7367899df8edd1b2361a11f2bfaeee911feb5ac58",
    }

    def digest(self, workload, seed):
        ops, _, _ = gen.generate(workload, seed)
        return hashlib.sha256(gen.ops_bytes(ops)).hexdigest()

    def test_same_seed_same_bytes_and_pinned(self):
        for w in ("notebook", "stores"):
            first = self.digest(w, 7)
            self.assertEqual(first, self.digest(w, 7))
            self.assertEqual(first, self.PINNED[w], w)

    def test_other_seed_other_list(self):
        for w in ("notebook", "stores"):
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8))

    def test_store_stream_mix(self):
        ops, _, _ = gen.generate("stores", 7)
        kinds = [o["kind"] for o in ops["ops"]]
        self.assertEqual(kinds[:3], ["probe", "takedown", "ingest"])
        self.assertEqual(kinds.count("probe") / len(kinds), 0.7)
        self.assertEqual(kinds.count("ingest") / len(kinds), 0.2)
        self.assertEqual(kinds.count("takedown") / len(kinds), 0.1)


if __name__ == "__main__":
    unittest.main()
