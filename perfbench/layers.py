"""Metric definitions and their computation from a run's records.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json`` declares
(a test keeps the two in step). Each per-layer entry also names the
end-to-end metric and workload it is expected to move.

Terms used below: an *op* is one timed operation — a declared query
(build + collect) on the query workloads, one arrival (land, drain, read
by path) or one backfill step on ``etl_ingest``. Per-layer timings are
medians over the spans of traced timed ops; counts are means per op.
"""
import stats

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("retained_heap_mb", "MB", "lower"),
]

STREAM_PHASES = ["addBatch", "commitOffsets", "getBatch", "latestOffset",
                 "queryPlanning", "triggerExecution", "walCommit"]

# name, unit, better, the end-to-end metric (and workload) it should move
PER_LAYER = [
    ("sessions.build_s", "s", "lower", "setup_s, all workloads"),
    ("setup.warmup_s", "s", "lower", "setup_s, all workloads"),
    ("tables.load_s", "s", "lower", "setup_s, declared_queries"),
    ("tables.register_s", "s", "lower", "setup_s and failures, etl_ingest"),
    ("tables.refresh_s", "s", "lower", "failures, etl_ingest"),
    ("sources.csv_rows_read", "rows", "lower", "pass_s, etl_ingest"),
    ("sources.csv_bytes_read", "bytes", "lower", "pass_s, etl_ingest"),
    ("sources.rejects_unparseable", "rows", "lower", "pass_s, etl_ingest"),
    ("sources.rejects_missing_required", "rows", "lower", "pass_s, etl_ingest"),
    ("sources.scan_task_s", "s", "lower", "pass_s, etl_ingest"),
    ("sources.quarantine_rows_per_s", "rows/s", "higher", "pass_s, etl_ingest"),
    ("ingest.run_s", "s", "lower", "pass_s, etl_ingest"),
    ("ingest.rows_per_s", "rows/s", "higher", "pass_s, etl_ingest"),
    ("ingest.files_written", "count", "lower", "pass_s, etl_ingest"),
    ("ingest.bytes_written", "bytes", "lower", "pass_s, etl_ingest"),
    ("ingest.partitions_touched", "count", "lower", "pass_s, etl_ingest"),
    ("ingest.storage_bytes_per_csv_byte", "ratio", "lower", "pass_s, etl_ingest"),
    ("streaming.drain_s", "s", "lower", "op_p50_s, etl_ingest"),
    ("streaming.batches", "count", "lower", "op_p50_s, etl_ingest"),
] + [(f"streaming.batch_ms.{p}", "ms", "lower", "op_p50_s, etl_ingest")
     for p in STREAM_PHASES] + [
    ("publish.path_query_s", "s", "lower", "op_p50_s, etl_ingest"),
    ("publish.catalog_query_s", "s", "lower", "failures, etl_ingest"),
    ("query.build_s", "s", "lower", "op_p50_s, declared_queries"),
    ("query.build_jobs", "count", "lower", "op_p50_s, declared_queries"),
    ("plan.analysis_ms", "ms", "lower", "op_p50_s, declared_queries (relational modules)"),
    ("plan.optimization_ms", "ms", "lower", "op_p50_s, declared_queries (relational modules)"),
    ("plan.planning_ms", "ms", "lower", "op_p50_s, declared_queries (relational modules)"),
    ("exec.jobs", "count", "lower", "op_p50_s, declared_queries (relational modules)"),
    ("exec.stages", "count", "lower", "op_p50_s, declared_queries (relational modules)"),
    ("exec.tasks", "count", "lower", "op_p50_s, declared_queries (relational modules)"),
    ("exec.idle_s", "s", "lower", "op_p50_s, declared_queries (relational modules)"),
    ("exec.task_s", "s", "lower", "pass_s, declared_queries (curation modules)"),
    ("exec.cpu_s", "s", "lower", "pass_s, declared_queries (curation modules)"),
    ("exec.gc_s", "s", "lower", "pass_s, declared_queries (curation modules)"),
    ("shuffle.write_bytes", "bytes", "lower", "pass_s, declared_queries"),
    ("shuffle.read_bytes", "bytes", "lower", "pass_s, declared_queries"),
    ("shuffle.fetch_wait_s", "s", "lower", "pass_s, declared_queries"),
    ("mem.spill_disk_bytes", "bytes", "lower", "pass_s, declared_queries"),
    ("mem.peak_exec_bytes", "bytes", "lower", "pass_s and retained_heap_mb, declared_queries"),
    ("mem.peak_rss_mb", "MB", "lower", "retained_heap_mb, all workloads"),
    ("caches.release_s", "s", "lower", "pass_s, declared_queries"),
    ("caches.memo_keys_new", "count", "lower", "pass_s, declared_queries (curation modules)"),
    ("caches.storage_bytes_after_release", "bytes", "lower", "retained_heap_mb, declared_queries"),
    ("kernel.shingle_hashes_ns_per_row", "ns", "lower", "pass_s, declared_queries (curation modules); not etl_ingest"),
    ("kernel.minhash_bands_ns_per_row", "ns", "lower", "none: no query of the set runs it (kernel reading only)"),
    ("kernel.simhash_ns_per_row", "ns", "lower", "pass_s, declared_queries (curation modules); not etl_ingest"),
    ("kernel.trigram_codes_ns_per_row", "ns", "lower", "none: no query of the set runs it (kernel reading only)"),
    ("kernel.dec20_add_ns_per_value", "ns", "lower", "pass_s, declared_queries (curation modules); not etl_ingest"),
    ("trace.overhead_frac", "fraction", "lower", "none: traced over untraced op latency, minus 1"),
    ("host.canary_cpu_s", "s", "lower", "none: host reading, tells contended runs apart"),
    ("host.steal_frac", "fraction", "lower", "none: host reading, CPU time taken by other guests"),
]


def _metric(value, unit):
    return {"value": value, "unit": unit}


def _timed(ops):
    return [op for op in ops if op["phase"] == "timed"]


def _backfill_passes(ops):
    """Timed backfill ops grouped by pass: {pass: [ingest op, quarantine op]}."""
    out = {}
    for op in _timed(ops):
        if op["kind"] in ("ingest", "quarantine"):
            out.setdefault(op["pass"], []).append(op)
    return out


def per_query_medians(ok, key):
    """{query name: median of ``key`` over its successful timed executions}."""
    by_name = {}
    for op in _timed(ok):
        by_name.setdefault(op["name"], []).append(op[key])
    return {n: stats.median(v) for n, v in by_name.items()}


def end_to_end(run, ok, mode):
    """The end-to-end metrics of an untraced run, from its successful ops
    only. A query workload run in which some query never succeeded in the
    timed phase reports no ``op_p50_s`` or ``pass_s``: a total over the
    queries that did succeed would read as a speed-up."""
    values = {
        "setup_s": stats.median(run["setup_rounds_s"]) + run["warmup_s"],
        "retained_heap_mb": run["retained_heap_mb"],
    }
    if mode == "queries":
        lat = per_query_medians(ok, "latency_s")
        if set(lat) == set(run["oracles"]):
            # a typical query: the geometric mean of the per-query medians,
            # so each query weighs the same whatever its latency; a pass:
            # the sum of each query's median cycle (build, collect, release)
            values["op_p50_s"] = stats.geomean(lat.values())
            values["pass_s"] = sum(per_query_medians(ok, "cycle_s").values())
    else:
        steps = {}
        for op in _timed(ok):
            steps.setdefault(op["kind"], []).append(op["latency_s"])
        if steps.get("arrival"):
            values["op_p50_s"] = stats.nearest_rank(steps["arrival"], 0.5)
        # a backfill pass: the median IngestJob.run step plus the median
        # quarantine-and-write step
        if steps.get("ingest") and steps.get("quarantine"):
            values["pass_s"] = stats.median(steps["ingest"]) + stats.median(steps["quarantine"])
    units = {n: u for n, u, _ in END_TO_END}
    return {n: _metric(values[n], units[n]) for n, _, _ in END_TO_END if n in values}


def per_layer(run, ok, mode, expect):
    """Per-layer metrics of a traced run, and the report written next to
    them (spans, self time per layer, tracing overhead)."""
    spans = run["spans"]
    counters = run["counters"]
    streams = run["streams"]
    traced_ops = [op for op in _timed(ok) if op["traced"]]
    op_ids = {op["id"] for op in traced_ops}
    op_spans = {}
    for s in spans:
        op_spans.setdefault(s["op"], []).append(s)

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1000.0

    def named(name, timed_only=True):
        return [s for s in spans if s["name"] == name and (not timed_only or s["op"] in op_ids)]

    def span_median(name, timed_only=True):
        return stats.median([dur(s) for s in named(name, timed_only)])

    def c(span, key):
        return counters.get(str(span["id"]), {}).get(key, 0)

    def per_op(key, scale=1.0):
        return stats.mean([sum(c(s, key) for s in op_spans.get(op["id"], [])) * scale
                           for op in traced_ops])

    m = {}
    m["sessions.build_s"] = span_median("sessions.build", timed_only=False)
    m["setup.warmup_s"] = run["warmup_s"]
    m["tables.load_s"] = span_median("tables.load", timed_only=False)
    m["tables.register_s"] = span_median("tables.register", timed_only=False)
    m["tables.refresh_s"] = span_median("tables.refresh")
    m["caches.release_s"] = span_median("caches.release")

    # backfill (etl_ingest)
    passes = [p for p in _backfill_passes(ok).values() if all(op["traced"] for op in p)]
    bf_ops = [op for p in passes for op in p]
    n_pass = max(1, len(passes))
    ingest = [op for op in bf_ops if op["kind"] == "ingest"]
    quar = [op for op in bf_ops if op["kind"] == "quarantine"]
    bf_spans = [s for op in bf_ops for s in op_spans.get(op["id"], [])]
    m["sources.csv_rows_read"] = sum(c(s, "in_records") for s in bf_spans) / n_pass
    m["sources.csv_bytes_read"] = sum(c(s, "in_bytes") for s in bf_spans) / n_pass
    m["sources.rejects_unparseable"] = stats.mean([op["rejects_unparseable"] for op in quar])
    m["sources.rejects_missing_required"] = stats.mean([op["rejects_missing_required"] for op in quar])
    m["sources.scan_task_s"] = sum(c(s, "run_ms") for s in bf_spans) / 1000.0 / n_pass
    rows = expect.get("rows", 0)
    m["sources.quarantine_rows_per_s"] = rows / stats.median([op["latency_s"] for op in quar]) if quar else 0.0
    m["ingest.run_s"] = span_median("ingest.run")
    m["ingest.rows_per_s"] = rows / stats.median([op["latency_s"] for op in ingest]) if ingest else 0.0
    m["ingest.files_written"] = stats.mean([op["files_written"] for op in ingest])
    m["ingest.bytes_written"] = stats.mean([op["bytes_written"] for op in ingest])
    m["ingest.partitions_touched"] = stats.mean([op["partitions"] for op in ingest])
    m["ingest.storage_bytes_per_csv_byte"] = (
        m["ingest.bytes_written"] / expect["csv_bytes"] if ingest else 0.0)

    # arrivals (etl_ingest)
    drains = named("streaming.drain")
    m["streaming.drain_s"] = stats.median([dur(s) for s in drains])
    per_drain = [streams.get(str(s["id"]), {"batches": 0, "phases_ms": {}}) for s in drains]
    batches = sum(d["batches"] for d in per_drain)
    m["streaming.batches"] = batches / len(drains) if drains else 0.0
    for p in STREAM_PHASES:
        total = sum(d["phases_ms"].get(p, 0) for d in per_drain)
        m[f"streaming.batch_ms.{p}"] = total / batches if batches else 0.0
    m["publish.path_query_s"] = span_median("publish.path_query")
    m["publish.catalog_query_s"] = span_median("publish.catalog_query")

    # queries and execution
    builds = named("query.build")
    m["query.build_s"] = stats.median([dur(s) for s in builds])
    m["query.build_jobs"] = stats.mean([c(s, "jobs") for s in builds])
    q_ops = [op for op in traced_ops if "plan_ms" in op]
    for ph in ("analysis", "optimization", "planning"):
        m[f"plan.{ph}_ms"] = stats.mean([op["plan_ms"].get(ph, 0) for op in q_ops])
    m["exec.jobs"] = per_op("jobs")
    m["exec.stages"] = per_op("stages")
    m["exec.tasks"] = per_op("tasks")
    m["exec.task_s"] = per_op("run_ms", 1e-3)
    m["exec.cpu_s"] = per_op("cpu_ns", 1e-9)
    m["exec.gc_s"] = per_op("gc_ms", 1e-3)
    m["shuffle.write_bytes"] = per_op("shuffle_write")
    m["shuffle.read_bytes"] = per_op("shuffle_read")
    m["shuffle.fetch_wait_s"] = per_op("fetch_wait_ms", 1e-3)
    m["mem.spill_disk_bytes"] = per_op("spill_disk")
    m["mem.peak_exec_bytes"] = max([c(s, "peak_exec") for op in traced_ops
                                    for s in op_spans.get(op["id"], [])], default=0)
    idle = []
    for op in traced_ops:
        ss = op_spans.get(op["id"], [])
        work = [s for s in ss if s["name"] not in ("op", "caches.release")] or ss
        if not work:
            continue
        lo, hi = min(s["start_ms"] for s in work), max(s["end_ms"] for s in work)
        tasks = [tuple(iv) for s in ss for iv in counters.get(str(s["id"]), {}).get("intervals", [])]
        idle.append(stats.idle_time(lo, hi, tasks) / 1000.0)
    m["exec.idle_s"] = stats.mean(idle)
    m["mem.peak_rss_mb"] = run["peak_rss_mb"]
    m["caches.memo_keys_new"] = stats.mean([op["memo_keys_new"] for op in q_ops])
    m["caches.storage_bytes_after_release"] = stats.mean([op["storage_bytes"] for op in q_ops])
    m.update(run["kernels"])

    # tracing overhead: the run alternates traced and untraced passes, so
    # each op name has latencies both ways; the overhead is the median of
    # the per-name ratios, minus 1
    kind = "query" if mode == "queries" else "arrival"
    by_name = {}
    for op in _timed(ok):
        by_name.setdefault(op["name"], ([], []))[0 if op["traced"] else 1].append(op["latency_s"])
    ratios = [stats.median(on) / stats.median(off) for on, off in by_name.values() if on and off]
    overhead = stats.median(ratios) - 1.0 if ratios else 0.0
    m["trace.overhead_frac"] = overhead
    m["host.canary_cpu_s"] = run["canary_cpu_s"]
    m["host.steal_frac"] = run["steal_frac"]

    units = {n: u for n, u, _, _ in PER_LAYER}
    metrics = {n: _metric(float(m[n]), units[n]) for n, _, _, _ in PER_LAYER}

    self_t = stats.self_times(spans)
    by_layer = {}
    for s in spans:
        if s["op"] in op_ids:
            by_layer[s["name"]] = by_layer.get(s["name"], 0.0) + self_t[s["id"]] / 1000.0
    lat = [op["latency_s"] for op in _timed(ok) if op["kind"] == kind]
    tail_q = stats.highest_reportable(len(lat))
    report = {
        "per_layer": metrics,
        "op_latency_s": {"samples": len(lat), "p50": stats.nearest_rank(lat, 0.5) if lat else None,
                         "tail": {"q": tail_q, "value": stats.percentile(lat, tail_q)} if tail_q else None},
        "moves": {n: mv for n, _, _, mv in PER_LAYER},
        "tracing_overhead_frac": overhead,
        "traced_ops": len(traced_ops),
        "self_s_per_op": {k: v / max(1, len(traced_ops)) for k, v in sorted(by_layer.items())},
        "canary_cpu_s": run["canary_cpu_s"],
        "steal_frac": run["steal_frac"],
        "cores": run["cores"],
        "spans": spans,
        "counters": counters,
        "streams": streams,
    }
    return metrics, report
