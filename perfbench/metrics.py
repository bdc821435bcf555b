"""Metric arithmetic for the serving benchmark: percentiles, ratios and
the tracing overhead, computed from the harness's raw run record
(`raw.json`, written by graft.perfbench.Main).

Every function here is pure; test_metrics.py pins them.
"""
import statistics

# end-to-end metric -> unit; the order is the order of BENCHMARK.json
END_TO_END = [
    ("setup_s", "s"),
    ("query_p50_ms", "ms"), ("query_p95_ms", "ms"),
    ("share_p50_ms", "ms"),
    ("insert_p50_ms", "ms"), ("insert_p95_ms", "ms"),
    ("fresh_p50_ms", "ms"), ("fresh_p95_ms", "ms"),
    ("analytics_p50_ms", "ms"), ("analytics_p95_ms", "ms"),
    ("server_cpu_ms_per_op", "ms"),
    ("rss_peak_mb", "MB"),
]

ROUTES = ["query", "share", "insert", "analytics"]
OPS = ["dedup_near", "bm25", "text_quality", "funnel", "hot_keys"]
# server route label (as /metrics names it) -> benchmark route
SERVER_ROUTES = {
    "POST /api/data/query": "query",
    "GET /share/{uuid}/data.{format}": "share",
    "POST /api/data/insert/{table}": "insert",
    "POST /api/data/analytics/{op}": "analytics",
}


def percentile(values, p):
    """Linear-interpolation percentile (the `inclusive` method of
    statistics.quantiles): p in [0, 100]; None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def ratio(num, den):
    """num / den, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0


def overhead_pct(traced, untraced):
    """How much slower the traced run is, in percent of the untraced."""
    return 100.0 * ratio(traced - untraced, untraced) if untraced else 0.0


def spread(values):
    """Interquartile range as a share of the median (the steadiness
    figure a bound is checked against)."""
    q = statistics.quantiles(values, n=4)
    return ratio(q[2] - q[0], statistics.median(values))


def route_latencies(samples, route, field=2):
    """Latencies (ms from the scheduled send, by default) of one route.
    A sample is [route, probe, lat_ms, wall_ms, lag_ms, ok, op]; failed
    requests are counted as failures, not timed."""
    return [s[field] for s in samples if s[0] == route and s[5]]


def per_op_percentile(samples, p):
    """The p-th percentile of each analytics operator's latencies,
    averaged over the operators seen, so that every operator moves it in
    proportion to its cost (a pooled percentile over operators of very
    different cost falls among one operator's samples)."""
    by_op = {}
    for s in samples:
        if s[0] == "analytics" and s[5]:
            by_op.setdefault(s[6], []).append(s[2])
    if not by_op:
        return None
    return statistics.mean(percentile(v, p) for v in by_op.values())


def end_to_end(run):
    """The end-to-end metrics of one untraced run record."""
    samples = run["samples"]
    lat = {r: route_latencies(samples, r) for r in ROUTES}
    fresh = run["fresh_ms"]
    ops = sum(1 for s in samples if s[5])
    return {
        "setup_s": statistics.median(run["setup_s"]),
        "query_p50_ms": percentile(lat["query"], 50),
        "query_p95_ms": percentile(lat["query"], 95),
        "share_p50_ms": percentile(lat["share"], 50),
        "insert_p50_ms": percentile(lat["insert"], 50),
        "insert_p95_ms": percentile(lat["insert"], 95),
        "fresh_p50_ms": percentile(fresh, 50),
        "fresh_p95_ms": percentile(fresh, 95),
        "analytics_p50_ms": per_op_percentile(samples, 50),
        "analytics_p95_ms": per_op_percentile(samples, 95),
        "server_cpu_ms_per_op": ratio(run["server_cpu_ms"], ops),
        "rss_peak_mb": run["rss_peak_kb"] / 1024.0,
    }


def error_pct(run):
    return 100.0 * ratio(run["failed"], run["attempted"])


def per_layer(untraced, traced, cpus):
    """Per-layer metrics from an untraced run (server route histogram
    deltas) and a traced run of the same schedule (span and listener
    totals). Returns name -> (value, unit)."""
    out = {}
    sums = traced["acc"]["sums"]
    counts = traced["acc"]["counts"]

    def mean(name):
        return ratio(sums.get(name, 0.0), counts.get(name, 0))

    def count(name):
        return counts.get(name, 0)

    # api: server time per route from /metrics, the rest is outside it
    api = untraced.get("api", {})
    for label, route in SERVER_ROUTES.items():
        a = api.get(label, {"count": 0, "sum_s": 0.0})
        server_ms = 1000.0 * ratio(a["sum_s"], a["count"])
        walls = route_latencies(untraced["samples"], route, field=3)
        client_ms = ratio(sum(walls), len(walls))
        out[f"api.server_ms.{route}"] = (server_ms, "ms")
        out[f"api.outside_ms.{route}"] = (client_ms - server_ms if a["count"] else 0.0, "ms")

    # engine: the query path, span by span
    q = "query"
    queries = len(route_latencies(traced["samples"], q))
    out["engine.prepare_ms"] = (mean(f"prepare.{q}"), "ms")
    out["engine.execute_ms"] = (mean(f"execute.{q}"), "ms")
    out["engine.analysis_ms"] = (mean(f"analysis.{q}"), "ms")
    out["engine.optimization_ms"] = (mean("phase.optimization"), "ms")
    out["engine.planning_ms"] = (mean("phase.planning"), "ms")
    out["engine.encode_ms"] = (mean(f"encode.{q}"), "ms")
    out["engine.first_byte_ms"] = (mean(f"first_byte.{q}"), "ms")
    out["engine.jobs_per_query"] = (ratio(count(f"jobs.{q}"), count(f"encode.{q}")), "count")
    out["engine.result_bytes"] = (mean(f"result_bytes.{q}"), "bytes")
    rebuild_labels = [k[len("view_rebuilds."):] for k in counts if k.startswith("view_rebuilds.")]
    out["engine.view_rebuilds"] = (sum(count(f"view_rebuilds.{l}") for l in rebuild_labels), "count")
    out["engine.views_registered"] = (
        sum(count(f"views_registered.{l}") for l in rebuild_labels), "count")
    # span coverage of a traced query: prepare + execute + encode versus
    # the request's wall
    walls = route_latencies(traced["samples"], q, field=3)
    covered = mean(f"prepare.{q}") + mean(f"execute.{q}") + mean(f"encode.{q}")
    wall = ratio(sum(walls), len(walls))
    out["engine.uncovered_ms"] = (wall - covered if queries else 0.0, "ms")

    # spark: task counters over every harness job group
    labels = {k.split(".", 1)[1] for k in list(sums) + list(counts)
              if k.split(".", 1)[0] in ("run_ms", "tasks")}
    ops = sum(1 for s in traced["samples"] if s[5])

    def total(prefix):
        return sum(sums.get(f"{prefix}.{l}", 0.0) for l in labels)

    out["spark.tasks_per_op"] = (ratio(count("tasks.all"), ops), "count")
    out["spark.executor_run_ms_per_op"] = (ratio(total("run_ms"), ops), "ms")
    out["spark.executor_cpu_ms_per_op"] = (ratio(total("cpu_ms"), ops), "ms")
    out["spark.gc_ms_per_op"] = (ratio(total("gc_ms"), ops), "ms")
    out["spark.shuffle_write_bytes_per_op"] = (ratio(total("shuffle_write"), ops), "bytes")
    out["spark.spill_bytes"] = (total("spill"), "bytes")
    out["spark.busy_pct"] = (
        100.0 * ratio(total("run_ms"), traced["window_s"] * 1000.0 * cpus), "%")

    # store: the ingest path, hand-off by hand-off
    batches = count("store.batches")
    out["store.accept_ms"] = (mean("store.accept"), "ms")
    out["store.spool_wait_ms"] = (mean("store.spool_wait"), "ms")
    out["store.upload_ms"] = (mean("store.upload"), "ms")
    out["store.queue_wait_ms"] = (mean("store.queue_wait"), "ms")
    out["store.ingest_file_ms"] = (mean("store.ingest_file"), "ms")
    out["store.batches"] = (batches, "count")
    out["store.rows_per_batch"] = (ratio(count("store.rows"), batches), "count")
    out["store.evolves"] = (count("store.evolves"), "count")
    out["store.files_per_batch"] = (ratio(count("store.files_added"), batches), "count")
    out["store.table_files_end"] = (traced.get("table_files_end", 0), "count")
    out["store.write_amp"] = (
        ratio(traced.get("table_bytes_end", 0), count("store.json_bytes")), "ratio")
    out["store.backlog_peak"] = (sums.get("store.backlog_peak", 0.0), "count")
    out["store.compactions"] = (count("store.compactions"), "count")
    out["store.compact_ms"] = (mean("store.compact"), "ms")

    # operators: plan, execute and executor CPU per analytics op
    for op in OPS:
        out[f"operators.plan_ms.{op}"] = (mean(f"operators.plan.{op}"), "ms")
        out[f"operators.exec_ms.{op}"] = (mean(f"operators.exec.{op}"), "ms")
        out[f"operators.cpu_ms.{op}"] = (
            ratio(sums.get(f"cpu_ms.op_{op}", 0.0), count(f"operators.exec.{op}")), "ms")

    # run health
    lags = [s[4] for s in untraced["samples"]]
    out["bench.gen_lag_p95_ms"] = (percentile(lags, 95) or 0.0, "ms")
    out["bench.calib_ms_before"] = (untraced["calib_ms_before"], "ms")
    out["bench.calib_ms_after"] = (untraced["calib_ms_after"], "ms")
    out["bench.error_pct"] = (error_pct(untraced), "%")
    out["server.heap_live_peak_mb"] = (untraced.get("heap_live_peak_mb", 0.0), "MB")
    # traced versus untraced p50 of the route holding most of the
    # workload's latency (queries on read_dash, analytics on analytics_cpu)
    busiest = max(ROUTES, key=lambda r: sum(route_latencies(untraced["samples"], r)))
    out["bench.trace_overhead_pct"] = (overhead_pct(
        percentile(route_latencies(traced["samples"], busiest), 50) or 0.0,
        percentile(route_latencies(untraced["samples"], busiest), 50) or 0.0), "%")
    return out
