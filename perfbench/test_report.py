"""Tests of the benchmark's own arithmetic and checks (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import pandas as pd

import oracle
import report

# 38 query names, as many as SparkEntry has
QUERIES = [f"q{i:02d}_query" for i in range(1, 39)]


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_the_chosen_percentile(self):
        xs = list(range(1, 101))  # 100 samples
        v, pct, beyond = report.tail(xs)
        self.assertEqual(v, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_highest_such_percentile(self):
        xs = [5.0] * 30 + [1.0] * 8
        v, pct, beyond = report.tail(xs)
        self.assertEqual(beyond, 10)
        # one rank higher would leave only nine samples beyond it
        self.assertAlmostEqual(pct, 100.0 * 28 / 38)

    def test_few_samples_fall_back_to_the_median(self):
        for n in (1, 2, 3, 7, 20):
            xs = [float(i) for i in range(n)]
            v, pct, beyond = report.tail(xs)
            self.assertEqual(v, sorted(xs)[(n - 1) // 2])
            self.assertEqual(beyond, n - 1 - (n - 1) // 2)

    def test_order_does_not_matter(self):
        xs = [3.0, 1.0, 2.0] * 10
        self.assertEqual(report.tail(xs), report.tail(sorted(xs)))


def span(i, parent, name, a, b):
    return {"id": i, "parent": parent, "name": name, "start_ns": a, "end_ns": b}


class SelfTimeTest(unittest.TestCase):
    def test_duration_minus_children(self):
        s = [span(0, -1, "pipeline", 0, 10_000_000_000),
             span(1, 0, "extract", 1_000_000_000, 4_000_000_000),
             span(2, 0, "meta", 5_000_000_000, 6_000_000_000)]
        t = report.self_times(s)
        self.assertAlmostEqual(t[0], 6.0)
        self.assertAlmostEqual(t[1], 3.0)
        self.assertAlmostEqual(t[2], 1.0)

    def test_overlapping_children_are_counted_once(self):
        s = [span(0, -1, "pipeline", 0, 10), span(1, 0, "a", 2, 6),
             span(2, 0, "b", 4, 8)]
        self.assertAlmostEqual(report.self_times(s)[0] * 1e9, 4)

    def test_children_are_clipped_to_the_parent(self):
        s = [span(0, -1, "p", 10, 20), span(1, 0, "c", 5, 15)]
        self.assertAlmostEqual(report.self_times(s)[0] * 1e9, 5)

    def test_grandchildren_count_only_for_their_parent(self):
        s = [span(0, -1, "p", 0, 100), span(1, 0, "c", 10, 60),
             span(2, 1, "g", 20, 40)]
        t = {k: v * 1e9 for k, v in report.self_times(s).items()}
        self.assertAlmostEqual(t[0], 50)
        self.assertAlmostEqual(t[1], 30)
        self.assertAlmostEqual(t[2], 20)


class ErrorRateTest(unittest.TestCase):
    def test_counts_failed_ops(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": True}]
        self.assertEqual(report.error_rate(ops), (0.25, 4, 1))

    def test_corrupted_query_result_counts_as_an_error(self):
        """A result that disagrees with its oracle fails every execution
        of that query, the way run.py applies oracle.check; so does a
        query without a result, and a rows-only query with no rows."""
        with tempfile.TemporaryDirectory() as d:
            tables = os.path.join(d, "tables")
            results = os.path.join(d, "results")
            os.makedirs(tables)
            for t in oracle.TABLES:
                pd.DataFrame({"x": [1, 2, 3]}).to_parquet(
                    os.path.join(tables, f"{t}.parquet"))
            os.makedirs(results)
            sql = {}
            for q in QUERIES:
                os.makedirs(os.path.join(results, q))
                pd.DataFrame({"x": [1, 2, 3]}).to_parquet(
                    os.path.join(results, q, "part-0.parquet"))
                sql[q] = "SELECT x FROM region"
            with open(os.path.join(results, "oracle_sql.json"), "w") as f:
                json.dump(sql, f)
            self.assertEqual(oracle.check(tables, results, QUERIES), {})
            self.assertEqual(oracle.check(tables, results, QUERIES + ["q39_query"]),
                             {"q39_query": "no result"})

            # a rows-only query (no oracle SQL) must return rows
            del sql["q08_query"]
            with open(os.path.join(results, "oracle_sql.json"), "w") as f:
                json.dump(sql, f)
            self.assertEqual(oracle.check(tables, results, QUERIES), {})
            pd.DataFrame({"x": []}).to_parquet(
                os.path.join(results, "q08_query", "part-0.parquet"))
            self.assertEqual(list(oracle.check(tables, results, QUERIES)), ["q08_query"])
            shutil.rmtree(os.path.join(results, "q08_query"))
            os.makedirs(os.path.join(results, "q08_query"))
            pd.DataFrame({"x": [1]}).to_parquet(
                os.path.join(results, "q08_query", "part-0.parquet"))

            corrupted = "q07_query"
            pd.DataFrame({"x": [1, 2, 4]}).to_parquet(
                os.path.join(results, corrupted, "part-0.parquet"))
            bad = oracle.check(tables, results, QUERIES)
            self.assertEqual(list(bad), [corrupted])

            ops = [{"name": q, "ok": True} for q in QUERIES]
            for o in ops:
                if o["name"] in bad:
                    o["ok"] = False
            rate, attempted, failed = report.error_rate(ops)
            self.assertEqual((attempted, failed), (38, 1))
            self.assertAlmostEqual(rate, 1 / 38)


class EndToEndTest(unittest.TestCase):
    def test_rates_come_from_the_ops_that_carry_counts(self):
        raw = {"workload": "query_mix", "setup_s": 3.0, "peak_rss_mb": 100.0,
               "passes": [20.0],
               "ops": [{"name": "q01", "s": 1.0, "ok": True, "counts": {}},
                       {"name": "q29_kg_triples", "s": 4.0, "ok": True,
                        "counts": {"docs": 120.0, "triples": 2000.0}}]}
        m, notes = report.end_to_end(raw)
        self.assertEqual(m["docs_per_s"][0], 30.0)
        self.assertEqual(m["triples_per_s"][0], 500.0)
        self.assertEqual(m["pass_s"][0], 20.0)
        self.assertEqual(m["latency_p50_s"][0], 2.5)
        self.assertEqual(notes["error_rate"], 0.0)


class PerLayerTest(unittest.TestCase):
    def test_every_listed_metric_is_reported(self):
        raw = {"cores": 4, "workload": "run_dense", "trace": {
            "spans": [span(0, -1, "pipeline", 0, 4_000_000_000),
                      span(1, 0, "extract", 0, 2_000_000_000)],
            "groups": {"1": {"jobs": 2, "tasks": 4, "shuffle_bytes": 2e6,
                             "spill_bytes": 0, "peak_exec_bytes": 1e6,
                             "gc_ms": 100, "run_ms": [1000, 1000, 1000, 3000]}},
            "jobs": [[0, 1_000_000_000]], "cached_bytes_peak": 5e6,
            "counts": {"emit.triples": 10},
            "untraced_s": 3.0, "traced_s": 4.0}}
        m = report.per_layer(raw, QUERIES)
        self.assertEqual(set(m), set(report.per_layer_names(QUERIES)))
        self.assertEqual(len(m), 8 * 8 + 5 + 6 + 38)
        self.assertAlmostEqual(m["extract.task_skew"][0], 3.0)
        self.assertAlmostEqual(m["extract.busy_frac"][0], 6.0 / 8.0)
        self.assertAlmostEqual(m["extract.gc_frac"][0], 100 / 6000)
        self.assertAlmostEqual(m["pipeline.driver_gap_s"][0], 3.0)
        self.assertAlmostEqual(m["pipeline.trace_overhead_frac"][0], 1 / 3)


if __name__ == "__main__":
    unittest.main()
