"""Tests of the benchmark's statistics and of BENCHMARK.json agreeing with
what run.py reports: python3 -m unittest perfbench/test_stats.py"""

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):

    def test_needs_more_samples_than_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        self.assertIsNotNone(stats.tail_percentile(list(range(11))))

    def test_keeps_ten_samples_beyond(self):
        for n in (11, 21, 42, 63, 100, 1000):
            xs = [float(i) for i in range(n)]
            p, value, count = stats.tail_percentile(xs)
            self.assertEqual(count, n)
            beyond = sum(1 for x in xs if x > value)
            self.assertGreaterEqual(beyond, 10, n)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(list(range(100))), (90, 89, 100))
        # 21 requests (one warm pass): the median is as far as ten go
        self.assertEqual(stats.tail_percentile(list(range(21))), (52, 10, 21))

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 6, 4, 0, 10, 12, 11]
        self.assertEqual(stats.tail_percentile(xs),
                         stats.tail_percentile(sorted(xs)))


class QuartileSplit(unittest.TestCase):

    def test_quarters(self):
        early, late = stats.quarters(list(range(12)))
        self.assertEqual(early, [0, 1, 2])
        self.assertEqual(late, [9, 10, 11])

    def test_short_sequences_keep_one_each(self):
        self.assertEqual(stats.quarters([4, 5, 6]), ([4], [6]))
        self.assertEqual(stats.quarters([7]), ([7], [7]))

    def test_growth_of_linearly_growing_batches(self):
        late, growth = stats.late_and_growth([1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4])
        self.assertEqual(late, 4)
        self.assertEqual(growth, 4.0)

    def test_flat_batches_grow_by_one(self):
        late, growth = stats.late_and_growth([0.5] * 8)
        self.assertEqual((late, growth), (0.5, 1.0))

    def test_uses_arrival_order_not_sorted_order(self):
        late, growth = stats.late_and_growth([4, 4, 1, 1, 1, 1, 1, 1])
        self.assertEqual(late, 1)
        self.assertEqual(growth, 0.25)


class WarmHitFrac(unittest.TestCase):

    def op(self, p, builds):
        return {"pass": p, "builds": builds}

    def test_cold_pass_is_ignored(self):
        ops = [self.op(1, 3), self.op(1, 1), self.op(2, 0), self.op(2, 0)]
        self.assertEqual(stats.warm_hit_frac(ops), 1.0)

    def test_build_mid_pass_counts_as_a_miss(self):
        # an eviction forces a rebuild in the middle of the second pass
        ops = [self.op(1, 1)] * 4 + [self.op(2, 0), self.op(2, 2),
                                     self.op(2, 0), self.op(2, 0)]
        self.assertEqual(stats.warm_hit_frac(ops), 0.75)

    def test_no_warm_pass(self):
        self.assertEqual(stats.warm_hit_frac([self.op(1, 1)]), 0.0)


class Inputs(unittest.TestCase):
    """The inputs depend on the seed alone: the same seed writes the same
    bytes, another seed other bytes."""

    def digest(self, workload, seed, blocks=False):
        with tempfile.TemporaryDirectory() as out:
            gen.generate(workload, seed, out)
            if blocks:
                gen.generate_blocks(workload, seed, out)
            return gen.combined_digest(gen.digests(out))

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in ("convert", "registry"):
            for blocks in (False, True):
                first = self.digest(workload, 7, blocks)
                self.assertEqual(first, self.digest(workload, 7, blocks))
                self.assertNotEqual(first, self.digest(workload, 8, blocks))


class BenchmarkJson(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.b = json.load(fh)

    def test_metric_names_and_units_match_the_runner(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]},
                         run.PER_LAYER)

    def test_workloads_are_runnable(self):
        for w in self.b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
