"""Tests of the benchmark's own arithmetic:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import metrics


def sample(route, lat, wall=None, lag=0.0, ok=True, probe=False, op=""):
    return [route, probe, lat, lat if wall is None else wall, lag, ok, op]


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [12.0, 3.0, 7.5, 40.0, 9.0, 1.0, 22.0]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 25), q[0])
        self.assertAlmostEqual(metrics.percentile(xs, 50), q[1])
        self.assertAlmostEqual(metrics.percentile(xs, 75), q[2])

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 21))  # 1..20
        self.assertAlmostEqual(metrics.percentile(xs, 95), 19.05)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 10.5)

    def test_edges(self):
        self.assertIsNone(metrics.percentile([], 50))
        self.assertEqual(metrics.percentile([4.0], 95), 4.0)
        self.assertEqual(metrics.percentile([5, 1], 0), 1)
        self.assertEqual(metrics.percentile([5, 1], 100), 5)


class RatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(metrics.ratio(6, 3), 2)
        self.assertEqual(metrics.ratio(1, 0), 0.0)

    def test_overhead(self):
        self.assertAlmostEqual(metrics.overhead_pct(110.0, 100.0), 10.0)
        self.assertAlmostEqual(metrics.overhead_pct(90.0, 100.0), -10.0)
        self.assertEqual(metrics.overhead_pct(5.0, 0.0), 0.0)

    def test_spread_is_iqr_over_median(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0, 10.2]
        q = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.spread(xs), (q[2] - q[0]) / statistics.median(xs))


def untraced_run():
    samples = ([sample("query", float(i), wall=i - 1.0, lag=1.0) for i in range(1, 21)] +
               [sample("share", 2.0), sample("share", 4.0), sample("share", 6.0)] +
               [sample("insert", 10.0), sample("insert", 30.0, ok=False)] +
               [sample("analytics", 100.0, probe=True, op="bm25"),
                sample("analytics", 300.0, probe=True, op="bm25")])
    return {"samples": samples, "fresh_ms": [1000.0, 2000.0, 3000.0],
            "setup_s": [5.0, 4.0, 9.0], "server_cpu_ms": 2600.0, "rss_peak_kb": 2048 * 1024,
            "heap_live_peak_mb": 310.5,
            "attempted": 30, "failed": 3, "wrong": 0,
            "calib_ms_before": 30.0, "calib_ms_after": 31.0,
            "api": {"POST /api/data/query": {"count": 20, "sum_s": 0.1},
                    "GET /share/{uuid}/data.{format}": {"count": 3, "sum_s": 0.003}}}


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        m = metrics.end_to_end(untraced_run())
        self.assertEqual(m["setup_s"], 5.0)  # median of the set-ups
        self.assertAlmostEqual(m["query_p50_ms"], 10.5)
        self.assertAlmostEqual(m["query_p95_ms"], 19.05)
        self.assertEqual(m["share_p50_ms"], 4.0)
        self.assertEqual(m["insert_p50_ms"], 10.0)  # the failed insert is not timed
        self.assertEqual(m["fresh_p50_ms"], 2000.0)
        self.assertEqual(m["analytics_p50_ms"], 200.0)
        self.assertAlmostEqual(m["server_cpu_ms_per_op"], 2600.0 / 26)
        self.assertEqual(m["rss_peak_mb"], 2048.0)
        self.assertEqual([k for k, _ in metrics.END_TO_END], list(m))

    def test_error_pct(self):
        self.assertAlmostEqual(metrics.error_pct(untraced_run()), 10.0)


class PerOpPercentileTest(unittest.TestCase):
    def test_every_op_weighs_the_same(self):
        samples = ([sample("analytics", x, op="bm25") for x in (100.0, 120.0)] +
                   [sample("analytics", x, op="funnel") for x in (900.0, 1000.0, 1100.0)] +
                   [sample("analytics", 5000.0, op="funnel", ok=False), sample("query", 1.0)])
        self.assertAlmostEqual(metrics.per_op_percentile(samples, 50), (110.0 + 1000.0) / 2)
        self.assertAlmostEqual(metrics.per_op_percentile(samples, 95), (119.0 + 1090.0) / 2)

    def test_a_slower_op_moves_it(self):
        base = [sample("analytics", 100.0, op=o) for o in ("bm25", "funnel", "hot_keys")]
        slower = base[:1] + [sample("analytics", 150.0, op="funnel")] + base[2:]
        self.assertAlmostEqual(metrics.per_op_percentile(slower, 50) -
                               metrics.per_op_percentile(base, 50), 50.0 / 3)

    def test_none_without_analytics(self):
        self.assertIsNone(metrics.per_op_percentile([sample("query", 1.0)], 50))


class PerLayerTest(unittest.TestCase):
    def traced_run(self):
        return {"samples": [sample("query", 50.0, wall=40.0), sample("query", 70.0, wall=60.0),
                            sample("analytics", 900.0)],
                "fresh_ms": [], "window_s": 10.0, "table_files_end": 12,
                "table_bytes_end": 3000,
                "acc": {"sums": {"prepare.query": 10.0, "execute.query": 30.0,
                                 "encode.query": 50.0, "run_ms.query": 400.0,
                                 "run_ms.op_bm25": 3600.0, "cpu_ms.op_bm25": 700.0,
                                 "operators.exec.bm25": 800.0},
                        "counts": {"prepare.query": 2, "execute.query": 2, "encode.query": 2,
                                   "jobs.query": 6, "tasks.all": 30, "run_ms.query": 10,
                                   "run_ms.op_bm25": 20, "operators.exec.bm25": 1,
                                   "store.json_bytes": 1000, "view_rebuilds.query": 1,
                                   "views_registered.query": 8}}}

    def test_spans_and_counters(self):
        m = metrics.per_layer(untraced_run(), self.traced_run(), cpus=4)
        self.assertEqual(m["api.server_ms.query"], (5.0, "ms"))
        # client wall mean (9.5 ms) minus the server's mean
        self.assertAlmostEqual(m["api.outside_ms.query"][0], 4.5)
        self.assertEqual(m["api.server_ms.insert"], (0.0, "ms"))
        self.assertEqual(m["engine.prepare_ms"], (5.0, "ms"))
        self.assertEqual(m["engine.jobs_per_query"], (3.0, "count"))
        # 50 ms of wall per traced query, 45 ms inside the three spans
        self.assertAlmostEqual(m["engine.uncovered_ms"][0], 5.0)
        self.assertEqual(m["engine.views_registered"], (8, "count"))
        self.assertEqual(m["spark.tasks_per_op"], (10.0, "count"))
        self.assertAlmostEqual(m["spark.busy_pct"][0], 100.0 * 4000.0 / (10.0 * 1000 * 4))
        self.assertEqual(m["operators.cpu_ms.bm25"], (700.0, "ms"))
        self.assertEqual(m["store.write_amp"], (3.0, "ratio"))
        self.assertEqual(m["bench.error_pct"], (10.0, "%"))
        self.assertEqual(m["server.heap_live_peak_mb"], (310.5, "MB"))
        # analytics holds most untraced latency (400 ms vs 210 ms of
        # queries): traced p50 900 vs untraced 200
        self.assertAlmostEqual(m["bench.trace_overhead_pct"][0], 350.0)

    def test_zero_when_a_layer_is_idle(self):
        m = metrics.per_layer(untraced_run(), self.traced_run(), cpus=4)
        self.assertEqual(m["store.ingest_file_ms"], (0.0, "ms"))
        self.assertEqual(m["operators.plan_ms.dedup_near"], (0.0, "ms"))


if __name__ == "__main__":
    unittest.main()
