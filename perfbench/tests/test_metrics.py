"""Tests of the benchmark's own arithmetic and output format.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


def op(kind, start, end, rnd=0):
    return {"kind": kind, "name": "", "round": rnd, "start": start,
            "end": end, "s": (end - start) / 1000.0}


def job(start, end, desc=""):
    return {"start": start, "end": end, "desc": desc}


def raw_record(ops, jobs, rounds=1):
    return {
        "workload": "ingest", "cores": 4, "setup_s": 2.5,
        "rounds": rounds, "ops": ops, "heap_peak": 1, "artifact_builds": 0,
        "extra": {"cdc_rows": 100, "docs": 10},
        "trace": {"jobs": jobs, "stages": [], "tasks": [], "phases": [],
                  "fs": {"bytes_read": 0, "bytes_written": 0}},
    }


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(metrics.percentile(xs, 50), 5)
        self.assertEqual(metrics.percentile(xs, 90), 9)
        self.assertEqual(metrics.percentile(xs, 100), 10)
        self.assertEqual(metrics.percentile(xs, 1), 1)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([9, 1, 5, 3, 7], 50), 5)

    def test_p90_leaves_a_tenth_above(self):
        xs = list(range(100))
        p90 = metrics.percentile(xs, 90)
        self.assertEqual(sum(x > p90 for x in xs), 10)

    def test_value_is_observed(self):
        self.assertIn(metrics.percentile([0.1, 0.4], 50), (0.1, 0.4))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class UnionTest(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(metrics.union([(0, 2), (5, 6)]), 3)

    def test_overlapping_and_nested(self):
        self.assertEqual(metrics.union([(0, 10), (2, 3), (8, 12)]), 12)

    def test_touching(self):
        self.assertEqual(metrics.union([(0, 5), (5, 7)]), 7)

    def test_unsorted_and_empty(self):
        self.assertEqual(metrics.union([(7, 9), (0, 1), (3, 3)]), 3)
        self.assertEqual(metrics.union([]), 0)

    def test_clip_to_windows(self):
        spans = metrics.clip([(0, 10), (12, 20)], [(5, 15)])
        self.assertEqual(spans, [(5, 10), (12, 15)])


class AttributionTest(unittest.TestCase):
    def test_pipeline_description(self):
        self.assertEqual(
            metrics.attribute("pipeline silver.orders_cleaned touched-discovery"),
            ("silver", "orders_cleaned", "touched-discovery"))
        self.assertEqual(
            metrics.attribute("pipeline gold.dim_customer bootstrap-write"),
            ("gold", "dim_customer", "bootstrap-write"))

    def test_other_descriptions(self):
        for desc in ("ndindex sig-count", "", None, "pipeline silver"):
            self.assertIsNone(metrics.attribute(desc))

    def test_model_seconds_come_from_their_jobs(self):
        ops = [op("bootstrap", 0, 1000), op("incremental", 2000, 3000)]
        jobs = [job(100, 300, "pipeline silver.orders_cleaned merge-write"),
                job(200, 400, "pipeline silver.orders_cleaned touched-discovery"),
                job(2100, 2200, "pipeline gold.dim_customer empty-check"),
                job(2500, 2600, "")]
        m = metrics.per_layer(raw_record(ops, jobs))
        self.assertAlmostEqual(m["model.orders_cleaned_s"], 0.3)
        self.assertAlmostEqual(m["model.dim_customer_s"], 0.1)
        self.assertAlmostEqual(m["model.customers_latest_s"], 0.0)
        self.assertAlmostEqual(m["model.discovery_s"], 0.3)


class GapTest(unittest.TestCase):
    def test_gap_plus_union_is_wall(self):
        ops = [op("bronze", 0, 1000), op("bootstrap", 1000, 3000)]
        jobs = [job(100, 600), job(500, 900), job(1200, 2000),
                job(2900, 3500)]   # runs past the last window
        m = metrics.per_layer(raw_record(ops, jobs))
        self.assertAlmostEqual(m["spark.job_union_s"], 0.8 + 0.8 + 0.1)
        self.assertAlmostEqual(m["spark.idle_gap_s"], 3.0 - 1.7)
        self.assertLess(metrics.gap_identity_error(raw_record(ops, jobs)),
                        1e-9)

    def test_jobs_outside_windows_are_ignored(self):
        ops = [op("search", 1000, 2000)]
        m = metrics.per_layer(raw_record(ops, [job(0, 900), job(2100, 2500)]))
        self.assertEqual(m["spark.jobs"], 0)
        self.assertAlmostEqual(m["spark.idle_gap_s"], 1.0)

    def test_per_round(self):
        ops = [op("search", 0, 1000, 0), op("search", 1000, 2000, 1)]
        m = metrics.per_layer(raw_record(ops, [job(0, 2000)], rounds=2))
        self.assertAlmostEqual(m["spark.job_union_s"], 1.0)
        self.assertEqual(m["spark.jobs"], 0.5)


class OutputTest(unittest.TestCase):
    def test_duplicate_keys_are_rejected(self):
        with self.assertRaises(ValueError):
            json.loads('{"a": 1, "b": {"c": 2, "c": 3}}',
                       object_pairs_hook=run.unique_keys)

    def test_result_is_strict_json_with_the_declared_metrics(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            spec = json.load(f, object_pairs_hook=run.unique_keys)
        ops = [op("bronze", 0, 1000), op("bootstrap", 1000, 3000)]
        rec = raw_record(ops, [job(0, 3000)])
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            line = json.dumps(metrics.result(rec, trace, True, 2, 0, 0.5))
            out = json.loads(line, object_pairs_hook=run.unique_keys)
            self.assertEqual(set(out), {"correct", "attempted", "failed",
                                        "metrics"})
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            self.assertEqual(got, want)

    def test_end_to_end_figures(self):
        ops = [op("query", 0, 100), op("query", 100, 400),
               op("query", 400, 600), op("query", 600, 700, 1),
               op("query", 700, 1000, 1), op("query", 1000, 1200, 1)]
        rec = raw_record(ops, [], rounds=2)
        m = metrics.end_to_end(rec)
        self.assertAlmostEqual(m["setup_s"], 2.5)
        self.assertAlmostEqual(m["round_s"], 0.6)
        self.assertAlmostEqual(m["latency_p50_ms"], 200.0)


if __name__ == "__main__":
    unittest.main()
