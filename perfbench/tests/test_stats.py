import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import compare  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def check(self, n, pct):
        xs = list(range(n, 0, -1))  # unsorted on purpose
        value, got, count = stats.tail(xs)
        self.assertEqual((got, count), (pct, n))
        self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)
        higher = [p for p in stats.TAIL_LADDER if p > pct]
        if higher:  # the next step up would leave fewer than ten beyond
            above = stats.nearest_rank(sorted(xs), min(higher))
            self.assertLess(sum(1 for x in xs if x > above), 10)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.check(20, 50.0)
        self.check(40, 75.0)
        self.check(100, 90.0)
        self.check(199, 90.0)
        self.check(200, 95.0)
        self.check(1000, 99.0)
        self.check(10000, 99.9)

    def test_no_tail_below_twenty_samples(self):
        for n in (0, 1, 11, 19):
            self.assertEqual(stats.tail(list(range(n)))[:2], (None, None))

    def test_tail_value_keeps_ten_beyond_a_ladder_step_down(self):
        # 150 samples: p95 would leave 7 beyond, so p90 with 15 beyond
        value, pct, _ = stats.tail(list(range(1, 151)))
        self.assertEqual((value, pct), (135, 90.0))


class UnionTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(layers.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(layers.union_ms([(0, 10), (20, 30)], 5, 25), 10)


class SelfTimeTest(unittest.TestCase):
    """The op's own wall time, not its root span, is what self times must add up to."""

    def record(self, wall_ms):
        spans = [[0, -1, "op.read", 100.0, 150.0, {}],
                 [1, 0, "delta.read.plan", 101.0, 120.0, {}],
                 [2, 0, "bench.inspect", 120.0, 125.0, {}],
                 [3, 0, "spark.exec", 125.0, 149.0, {}]]
        return {"spans": spans, "jobs": [], "stages": [], "stage_cols": ["span"],
                "samples": [["loop", "read", wall_ms, True, 0, 0]],
                "end": {"log_files": 1, "commits": 1, "checkpoints": 0},
                "counters": {}, "loop_s": 0.05}

    def test_residual_compares_sum_of_self_times_with_the_op_wall_time(self):
        m, residual = layers.per_layer(self.record(50.01))
        self.assertAlmostEqual(residual, 0.01)
        # root self 1 + 1 ms, bench.inspect 5 ms
        self.assertAlmostEqual(m["bench.unattributed_share"], 7 / 50.01)
        _, residual = layers.per_layer(self.record(58.0))
        self.assertAlmostEqual(residual, 8.0)

    def test_an_op_without_its_root_span_is_an_infinite_residual(self):
        rec = self.record(50.0)
        rec["samples"].append(["loop", "read", 10.0, True, 1, 7])
        self.assertEqual(layers.per_layer(rec)[1], float("inf"))


class VerdictTest(unittest.TestCase):
    def test_verdicts(self):
        base = [100, 101, 102, 99, 100, 98, 101, 100, 99, 102]
        pairs = lambda b: list(zip(base, b))  # noqa: E731
        worse = [x * 1.3 for x in base]
        same = [x + 0.5 for x in base]
        better = [x * 0.8 for x in base]
        self.assertEqual(compare.verdict(base, worse, pairs(worse), 0.1, True), "regressed")
        self.assertEqual(compare.verdict(base, same, pairs(same), 0.1, True), "same")
        self.assertEqual(compare.verdict(base, better, pairs(better), 0.1, True), "improved")
        wide = [50, 150, 60, 140, 100, 70, 130, 90, 110, 100]
        self.assertEqual(compare.verdict(base, wide, pairs(wide), 0.1, True), "unresolved")
        self.assertEqual(compare.verdict(base, worse, pairs(worse), None, True), "-")


if __name__ == "__main__":
    unittest.main()
