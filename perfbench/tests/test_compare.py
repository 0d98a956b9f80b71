"""The compare tool's verdicts on synthetic run sets."""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import compare  # noqa: E402


def runs(workload, metric, vals, trace=0, extra=None):
    out = []
    for i, v in enumerate(vals):
        m = {metric: {"value": v, "unit": "x"}}
        m.update(extra(i) if extra else {})
        out.append({"workload": workload, "seed": i + 1, "trace": trace, "exit": 0,
                    "result": {"correct": True, "attempted": 1, "failed": 0, "metrics": m}})
    return out


class VerdictTest(unittest.TestCase):
    parent = [100, 101, 99, 100.5, 99.5, 100, 101, 99, 100.2, 99.8]

    def test_clear_gain(self):
        change = [v * 0.8 for v in self.parent]
        v, d = compare.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(v, "gain")
        self.assertEqual(d["wins"], 10)

    def test_gain_needs_nine_tenths_of_pairs(self):
        change = [v * 0.8 for v in self.parent]
        change[0] = change[1] = 200  # two lost pairs: 8/10 wins
        v, _ = compare.verdict(self.parent, change, "lower", 0.5)
        self.assertEqual(v, "no regression")

    def test_gain_needs_gap_beyond_parent_iqr(self):
        change = [v - 0.3 for v in self.parent]  # wins every pair, gap < IQR
        v, d = compare.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(d["wins"], 10)
        self.assertEqual(v, "no regression")

    def test_ties_count_for_neither(self):
        v, d = compare.verdict(self.parent, list(self.parent), "lower", 0.1)
        self.assertEqual((v, d["wins"]), ("no regression", 0))

    def test_regression_beyond_bound(self):
        change = [v * 1.2 for v in self.parent]
        v, _ = compare.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(v, "regressed")

    def test_higher_is_better(self):
        change = [v * 0.8 for v in self.parent]
        v, _ = compare.verdict(self.parent, change, "higher", 0.1)
        self.assertEqual(v, "regressed")
        v, _ = compare.verdict(self.parent, [v * 1.25 for v in self.parent], "higher", 0.1)
        self.assertEqual(v, "gain")

    def test_wide_spread_is_unresolved(self):
        noisy = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
        change = [v * 1.02 for v in noisy]
        v, _ = compare.verdict(noisy, change, "lower", 0.1)
        self.assertEqual(v, "unresolved")

    def test_wide_spread_resolved_when_every_run_is_better(self):
        noisy = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
        change = [v * 0.3 for v in noisy]
        v, _ = compare.verdict(noisy, change, "lower", 0.1)
        self.assertEqual(v, "gain")


class CountsAndSpreadTest(unittest.TestCase):
    def test_counts_compared_exactly_by_seed(self):
        def extra(i):
            return {n: {"value": 3.0, "unit": "count"} for n in compare.NAMED_COUNTS}
        a = runs("dml_mix", "trace.items_per_s", [1.0, 1.1], trace=1, extra=extra)
        b = runs("dml_mix", "trace.items_per_s", [1.2, 0.9], trace=1, extra=extra)
        b[1]["result"]["metrics"]["spark.jobs"]["value"] = 4.0
        diffs = compare.count_diffs(a, b)
        self.assertEqual(len(diffs), 2 * len(compare.NAMED_COUNTS))
        changed = [(w, s, n, x, y) for w, s, n, x, y in diffs if x != y]
        self.assertEqual(changed, [("dml_mix", 2, "spark.jobs", 3.0, 4.0)])

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(compare.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)

    def test_tracing_overhead(self):
        recs = runs("ingest", "items_per_s", [100, 100, 100]) + \
            runs("ingest", "trace.items_per_s", [80, 80, 80], trace=1)
        self.assertAlmostEqual(compare.overhead(recs)["ingest"], 0.25)


if __name__ == "__main__":
    unittest.main()
