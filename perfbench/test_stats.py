"""Tests of the benchmark's own statistics, metric names and input
selection. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import os
import tempfile
import unittest

import gen
import run
import stats

# The metrics the benchmark design names, and where each lives: a declared
# end-to-end metric, a declared per-layer metric, or a printed-only line
# (values that are 0 or lack ten samples beyond them cannot be gated).
END_TO_END = ["setup_s", "query_p50_s", "round_s", "task_cpu_s", "peak_rss_mb"]
PRINTED_ONLY = ["query_p90_s", "lookup_p90_s", "failed_frac"]
MOVED_TO_LAYER = {"save_p50_s": "sources.save_p50_s",
                  "lookup_p50_s": "sources.lookup_p50_s",
                  "enriched_rows_per_s": "sources.enriched_rows_per_s",
                  "store_bytes_per_row": "sources.store_bytes_per_row"}
KERNELS = ["SimHash64", "TradingDayRoll", "IntDotProduct", "RhpSignature", "ByteEntropy",
           "HashedBagScore", "HashedBagEmbed", "RollingHash64", "Shingles", "MinHashes",
           "WinnowSelect", "QuantizeVec", "IntSqDist", "PqEncode", "PqAdcTable", "PqAdcScore",
           "LongVecSub", "PqEncodeResid", "PqAdcTableResid", "IvfNearestIdx", "Bigrams",
           "GramsWithPos", "TermCounts", "EqCount", "RenormQuantize", "WordChunks"]
PER_LAYER = [
    "sources.load_s", "sources.schema_jobs", "queries.build_s", "queries.build_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "spark.jobs",
    "spark.sched_wait_s", "spark.core_busy_frac",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.peak_exec_mem_mb", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.input_mb", "spark.stages", "spark.tasks", "plans.exchanges", "operators.pin_s",
    "operators.caches_pinned",
    "analytics.bs_iv_ns", "analytics.binomial_iv_ns", "analytics.greeks_ns",
    "analytics.risk_of_ns", "analytics.cpu_per_row_over_kernel",
    "sources.files_written", "sources.bytes_written", "sources.lookup_bytes_read",
    "sources.lookup_files_read", "session.create_s", "trace.overhead_frac",
] + [f"plans.{k}.ns_per_row" for k in KERNELS]


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)  # 10 samples above rank 90
        self.assertIsNone(stats.percentile(xs[:99], 90))  # only 9 above
        self.assertEqual(stats.percentile(list(range(20)), 50), 9)
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertIsNone(stats.percentile([], 50))

    def test_percentile_ignores_input_order(self):
        xs = list(range(100, 0, -1))
        self.assertEqual(stats.percentile(xs, 90), 90)

    def test_summary_and_sample_count_printed(self):
        s = stats.summary([0.1] * 30)
        self.assertEqual((s["p50"], s["n"], s["tail"]), (0.1, 30, None))
        line = stats.describe("query latency", [0.1] * 30, "s")
        self.assertIn("(n=30)", line)
        self.assertIn("p90 n/a", line)
        line = stats.describe("lookup latency", [0.05] * 100, "s")
        self.assertIn("(n=100)", line)
        self.assertIn("p90 0.0500 s", line)


class BoundTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)

    def test_lower_is_better(self):
        self.assertTrue(stats.within_bound([1.0] * 5, [1.09] * 5, 0.10, "lower"))
        self.assertFalse(stats.within_bound([1.0] * 5, [1.11] * 5, 0.10, "lower"))
        self.assertTrue(stats.within_bound([1.0] * 5, [0.5] * 5, 0.10, "lower"))

    def test_higher_is_better(self):
        self.assertTrue(stats.within_bound([100.0] * 3, [91.0] * 3, 0.10, "higher"))
        self.assertFalse(stats.within_bound([100.0] * 3, [89.0] * 3, 0.10, "higher"))
        self.assertTrue(stats.within_bound([100.0] * 3, [150.0] * 3, 0.10, "higher"))

    def test_bound_compares_medians(self):
        # one outlier run moves neither median
        self.assertTrue(stats.within_bound([1.0, 1.0, 1.0, 9.0], [1.0, 1.05, 1.05, 1.0],
                                           0.10, "lower"))


class MetricNamesTest(unittest.TestCase):
    def test_declared_names_match_the_design(self):
        e2e, layer = stats.declared()
        e2e, layer = [n for n, _ in e2e], [n for n, _ in layer]
        self.assertEqual(e2e, END_TO_END)
        for name in PER_LAYER + list(MOVED_TO_LAYER.values()):
            self.assertIn(name, layer)
        self.assertEqual(len(layer), len(set(layer)))
        for name in PRINTED_ONLY:
            self.assertNotIn(name, e2e + layer)

    def test_setup_has_the_largest_bound(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "BENCHMARK.json")
        import json
        with open(path) as fh:
            b = json.load(fh)
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))


class SelectionTest(unittest.TestCase):
    def test_finance_set_is_fixed_and_its_order_seeded(self):
        orders = [run.select_ops("finance_interactive", seed) for seed in range(5)]
        for ops in orders:
            self.assertEqual(sorted(ops), sorted(run.FINANCE))
        self.assertEqual(len(set(run.FINANCE)), 10)
        self.assertEqual(orders[0], run.select_ops("finance_interactive", 0))
        self.assertGreater(len({tuple(o) for o in orders}), 1)

    def test_round_count_depends_only_on_seconds(self):
        self.assertEqual(run.rounds("finance_interactive", 15), 2)
        self.assertEqual(run.rounds("finance_interactive", 1), 1)
        self.assertEqual(run.rounds("enrich_store", 15), 1)
        self.assertEqual(run.rounds("enrich_store", 60), 5)
        self.assertEqual(run.rounds("curation_batch_x10", 60), 1)

    def test_selection_is_seeded(self):
        self.assertEqual(run.select_ops("curation_batch_x10", 3),
                         run.select_ops("curation_batch_x10", 3))
        self.assertEqual(run.select_ops("curation_batch_x10", 3), run.CURATION)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        os.makedirs(os.path.join(run.BENCH, ".work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(run.BENCH, ".work")) as d:
            a = gen.generate("enrich_store", 7, os.path.join(d, "a"))
            b = gen.generate("enrich_store", 7, os.path.join(d, "b"))
            c = gen.generate("enrich_store", 8, os.path.join(d, "c"))
            for t in gen.TABLES:
                with open(os.path.join(d, "a", t + ".parquet"), "rb") as fa, \
                        open(os.path.join(d, "b", t + ".parquet"), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)
            self.assertEqual(a["tables"]["orders"]["rows"], gen.SIZES["enrich_store"]["orders"])
            with open(os.path.join(d, "a", "events.parquet"), "rb") as fa, \
                    open(os.path.join(d, "c", "events.parquet"), "rb") as fc:
                self.assertNotEqual(fa.read(), fc.read())
            self.assertTrue(gen.generate("enrich_store", 7, os.path.join(d, "a"))["cached"])


if __name__ == "__main__":
    unittest.main()
