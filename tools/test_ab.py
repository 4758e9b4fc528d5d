"""Self-tests of the A/B summary: python3 -m unittest discover tools"""

import unittest

import ab

METRICS = [{"name": "cold_s", "unit": "s", "better": "lower", "bound": 0.25},
           {"name": "hits", "unit": "count", "better": "higher", "bound": 0.1}]


def run(cold, hits=10.0, exit=0, correct=True, failed=0):
    return {"exit": exit, "result": {"correct": correct, "attempted": 5, "failed": failed,
                                     "metrics": {"cold_s": {"value": cold, "unit": "s"},
                                                 "hits": {"value": hits, "unit": "count"}}}}


def row(rows, name):
    return next(r for r in rows if r["name"] == name)


class Summary(unittest.TestCase):
    def test_quantiles_interpolate(self):
        self.assertEqual(ab.quantile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5)
        self.assertEqual(ab.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.25), 2.0)
        self.assertEqual(ab.quantile([7.0], 0.75), 7.0)

    def test_medians_delta_spread_and_better_count(self):
        pairs = [(run(10.0), run(9.0)), (run(11.0), run(11.0)), (run(12.0), run(10.0)),
                 (run(10.5), run(11.5))]
        r = row(ab.summarize(pairs, METRICS), "cold_s")
        self.assertEqual(r["parent"], (10.375, 10.75, 11.25))
        self.assertEqual(r["change"][1], 10.5)
        self.assertAlmostEqual(r["delta"], (10.5 - 10.75) / 10.75)
        self.assertAlmostEqual(r["parent_spread"], 0.875 / 10.75)
        # the tie in pair 2 counts for neither side
        self.assertEqual((r["better"], r["pairs"]), (2, 4))
        self.assertEqual(r["verdict"], "within bound")

    def test_worse_beyond_bound_and_higher_is_better(self):
        pairs = [(run(10.0, hits=10.0), run(14.0, hits=8.0)) for _ in range(3)]
        rows = ab.summarize(pairs, METRICS)
        self.assertEqual(row(rows, "cold_s")["verdict"], "WORSE")
        self.assertEqual(row(rows, "hits")["verdict"], "WORSE")
        self.assertEqual(row(rows, "hits")["better"], 0)
        better = [(run(10.0, hits=10.0), run(9.0, hits=12.0)) for _ in range(3)]
        self.assertEqual(row(ab.summarize(better, METRICS), "hits")["better"], 3)

    def test_parent_spread_beyond_bound_is_unresolved(self):
        pairs = [(run(c), run(20.0)) for c in (5.0, 10.0, 15.0)]
        self.assertEqual(row(ab.summarize(pairs, METRICS), "cold_s")["verdict"], "unresolved")

    def test_failed_runs_count_against_their_side(self):
        pairs = [(run(10.0), run(9.0, exit=1)), (run(10.0, correct=False), run(9.0)),
                 (run(10.0), run(9.0, failed=2)), (run(10.0), run(9.0))]
        r = row(ab.summarize(pairs, METRICS), "cold_s")
        self.assertEqual((r["parent_failed"], r["change_failed"]), (1, 2))
        # change wins pair 2 (parent failed) and pair 4; loses pairs 1 and 3
        self.assertEqual(r["better"], 2)
        self.assertEqual(r["verdict"], "FAILED RUNS")
        # a failed run's values stay out of the quartiles
        self.assertEqual(r["change"], (9.0, 9.0, 9.0))
        self.assertEqual(ab.failure({"exit": 0, "result": None}), "exit 0")

    def test_zero_parent_median(self):
        pairs = [(run(0.0), run(0.0))] * 3
        self.assertEqual(row(ab.summarize(pairs, METRICS), "cold_s")["verdict"], "within bound")
        pairs = [(run(0.0), run(1.0))] * 3
        self.assertEqual(row(ab.summarize(pairs, METRICS), "cold_s")["verdict"], "WORSE")
        # higher is better: a rise from a zero median is an improvement, a fall is worse
        up = row(ab.summarize([(run(1.0, hits=0.0), run(1.0, hits=2.0))] * 3, METRICS), "hits")
        self.assertEqual((up["delta"], up["verdict"]), (float("inf"), "within bound"))
        down = row(ab.summarize([(run(1.0, hits=0.0), run(1.0, hits=-2.0))] * 3, METRICS), "hits")
        self.assertEqual((down["delta"], down["verdict"]), (float("-inf"), "WORSE"))
        # lower is better: a fall from a zero median is an improvement
        fall = row(ab.summarize([(run(0.0), run(-1.0))] * 3, METRICS), "cold_s")
        self.assertEqual((fall["delta"], fall["verdict"]), (float("-inf"), "within bound"))


if __name__ == "__main__":
    unittest.main()
