"""Self-test of the benchmark's statistics: python3 -m unittest test_stats
(from perfbench/), or python3 perfbench/run.py --self-test."""
import math
import unittest

import run
import stats


def op(pass_, seconds, failed=False, name="q"):
    return {"id": 0, "pass": pass_, "name": name, "start": 0, "end": int(seconds * 1e6),
            "seconds": seconds, "error": "boom" if failed else None, "ok": None,
            "builds": [], "failed": failed}


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_beta_cdf(self):
        self.assertAlmostEqual(stats.beta_cdf(0.3, 2, 5), 0.579825)   # closed form
        self.assertAlmostEqual(stats.beta_cdf(0.5, 12.5, 12.5), 0.5)
        self.assertEqual((stats.beta_cdf(0, 2, 3), stats.beta_cdf(1, 2, 3)), (0.0, 1.0))

    def test_quantile_weights_all_order_statistics(self):
        self.assertAlmostEqual(stats.quantile(range(1, 25), 0.5), 12.5)
        self.assertAlmostEqual(stats.quantile([7.0] * 5, 0.9), 7.0)
        # a lumpy sample: one value crossing the gap at the middle moves
        # the sample median by the whole gap, the estimate by a fraction
        low, high = [1.0] * 12 + [2.0] * 12, [1.0] * 11 + [2.0] * 13
        self.assertEqual(stats.median(high) - stats.median(low), 0.5)
        self.assertLess(stats.quantile(high, 0.5) - stats.quantile(low, 0.5), 0.2)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: p95 has only 5 above it, so p90 is estimated
        value, pct, n = stats.tail_percentile(range(1, 101))
        self.assertEqual((pct, n), (0.90, 100))
        self.assertAlmostEqual(value, 90.5, places=3)
        # 200 samples support p95 itself (10 above it)
        self.assertEqual(stats.tail_percentile(range(1, 201))[1:], (0.95, 200))
        # 21 samples: highest supported percentile is the 11th value's
        value, pct, n = stats.tail_percentile(range(1, 22))
        self.assertEqual(n, 21)
        self.assertAlmostEqual(pct, 11 / 21)

    def test_tail_without_support_is_the_median(self):
        self.assertEqual(stats.tail_percentile([5, 1, 3]), (3, 0.5, 3))
        self.assertEqual(stats.tail_percentile(range(1, 21))[1:], (0.5, 20))
        self.assertAlmostEqual(stats.tail_percentile(range(1, 21))[0], 10.5)


class Failures(unittest.TestCase):
    def test_ratio_has_its_base(self):
        self.assertEqual(stats.failed_ratio(1, 4), (0.25, 4))
        self.assertEqual(stats.failed_ratio(0, 7), (0.0, 7))
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)

    def test_failed_query_counts_as_failed_never_as_fast(self):
        rec = {"setup": {"total_s": 1.0},
               "ops": [op(0, 1.0)] + [op(1, 1.0) for _ in range(20)]
               + [op(1, 0.001, failed=True)]}
        metrics, info = run.end_to_end(rec)
        self.assertEqual((info["failed"], info["attempted"]), (1, 22))
        lat = stats.latencies(rec["ops"][1:])
        self.assertEqual(min(lat), 1.0)          # the 1 ms failure is not a sample
        self.assertTrue(math.isinf(max(lat)))    # it sits beyond every success
        self.assertTrue(math.isinf(info["query_p50_s"]))   # and no estimate is fast
        self.assertTrue(math.isinf(info["query_p95_s"]))

    def test_tail_of_mostly_failed_run_is_infinite(self):
        rec = {"setup": {"total_s": 1.0},
               "ops": [op(0, 1.0)] + [op(1, 1.0) for _ in range(5)]
               + [op(1, 0.5, True) for _ in range(20)]}
        _, info = run.end_to_end(rec)
        self.assertTrue(math.isinf(info["query_p95_s"]))
        self.assertTrue(math.isinf(info["query_p50_s"]))

    def test_cold_pass_is_apart_and_early_warm_passes_settle(self):
        rec = {"setup": {"total_s": 2.0},
               "ops": [op(0, 50.0), op(1, 9.0), op(2, 2.0), op(2, 2.0), op(3, 5.0),
                       op(4, 3.0)]}
        metrics, info = run.end_to_end(rec)
        self.assertEqual(run.measured([0, 1, 2, 3, 4]), [3, 4])
        self.assertEqual(run.measured([0, 1]), [1])
        self.assertEqual(run.measured([0]), [0])         # a cold-pass-only run
        self.assertEqual(metrics["setup_s"], 2.0)
        self.assertNotIn(50.0, metrics.values())         # the cold pass is apart
        self.assertEqual(metrics["pass_s"], 4.0)         # passes 3 and 4
        self.assertEqual(info["query_p50_s"], 4.0)    # their samples only
        self.assertEqual((info["measured_passes"], info["warm_passes"],
                          info["attempted"]), (2, 4, 6))


    def test_oracle_verdicts_mark_failed_and_silent_queries(self):
        out = ("OK   a (3 rows)\nFAIL b: 2 mismatched rows of 9\nspark: [...]\n"
               "FAIL d: no spark output dir\n\n1 ok, 2 fail\n")
        self.assertEqual(run.verdicts(out, ["a", "b", "c", "d"], 1), {
            "b": "2 mismatched rows of 9", "d": "no spark output dir",
            "c": "no verdict from tools/check.py (exit 1)"})


class Spans(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([(0, 4), (2, 6), (8, 12)], 1, 10), 7)
        self.assertEqual(stats.covered([], 0, 5), 0)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "start": 1, "end": 4},
                 {"id": 3, "parent": 1, "start": 3, "end": 6},
                 {"id": 4, "parent": 3, "start": 3, "end": 5}]
        self.assertEqual(stats.self_times(spans), {1: 5, 2: 3, 3: 1, 4: 2})

    def test_reported_intervals_go_under_the_innermost_span(self):
        spans = [{"id": 1, "parent": 0, "op": 7, "name": "query", "start": 0, "end": 10_000},
                 {"id": 2, "parent": 1, "op": 7, "name": "exec", "start": 4_000, "end": 9_000}]
        kids = run._children(spans, [(1, 3), (5, 6), (20, 21)], "spark.job", 3)
        self.assertEqual([(k["id"], k["parent"], k["op"]) for k in kids],
                         [(3, 1, 7), (4, 2, 7), (5, 0, 0)])
        self.assertEqual((kids[1]["start"], kids[1]["end"]), (5_000, 6_000))


if __name__ == "__main__":
    unittest.main()
