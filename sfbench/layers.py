"""Per-layer metrics of the traced run (``--trace 1``).

``install`` wraps each layer's public entry points at the name its
caller looks up; ``metrics`` turns the spans into the per-layer table.
Every workload reports every metric: a layer a workload does not touch
reads 0, which is how its self time shows to sit in its own workload.
Spans from the setup rounds only feed the ``session``/``cli`` set-up
metrics; all others come from the measured phase.
"""

from __future__ import annotations

import hashlib
import time

from harness import pct

#: span-name prefix -> layer
LAYERS = (
    "session", "cli", "catalog", "agent", "copy", "time", "locking",
    "parquet", "replicate", "monitor", "txtable", "lp", "influxql",
)


def install(tr) -> None:
    from syncflux_spark import agent, cli, locking, session
    from syncflux_spark.catalog import SparkCatalog
    from syncflux_spark.influxql import InfluxQLEngine
    from syncflux_spark.operators import copy as copy_mod
    from syncflux_spark.sources import parquet
    from syncflux_spark.sources.line_protocol import LineProtocolSink
    from syncflux_spark.streaming.monitor import HAMonitor
    from syncflux_spark.streaming.replicate import ReplicationStream
    from syncflux_spark.txtable import TxTable

    def note(**kw):
        return lambda rec, out: rec["attrs"].update({k: f(out) for k, f in kw.items()})

    tr.wrap(session, "get_spark", "session.get_spark")
    tr.wrap(cli, "build_server", "cli.build_server")
    tr.wrap(SparkCatalog, "get_schema", "catalog.get_schema")
    tr.wrap(SparkCatalog, "replicate_schema", "catalog.replicate_schema")
    tr.wrap(agent, "replicate_data", "agent.replicate_data")
    tr.wrap(agent, "sync_dbrp", "copy.sync_dbrp")
    tr.wrap(copy_mod, "sync", "copy.sync", on_result=note(bad=lambda r: len(r.bad_chunks)))
    tr.wrap(copy_mod, "copy_range", "copy.copy_range", on_result=note(points=int))
    tr.wrap(copy_mod, "chunk_windows", "time.chunk_windows", on_result=note(n=len))
    tr.wrap_cm(locking, "table_lock", "locking.table_lock")
    # copy imports scan_time_range by name; influxql imports it at call time
    tr.wrap(copy_mod, "scan_time_range", "parquet.scan_time_range")
    tr.wrap(parquet, "scan_time_range", "parquet.scan_time_range")
    tr.wrap(ReplicationStream, "run_available", "replicate.run_available",
            on_result=note(batches=int))
    tr.wrap(HAMonitor, "check_once", "monitor.check_once",
            attrs=lambda mon, *a, **k: {"before": mon.status.num_recovers},
            on_result=lambda rec, st: rec["attrs"].update(
                recovered=st.num_recovers > rec["attrs"]["before"]))
    tr.wrap(TxTable, "replace_tagged", "txtable.replace_tagged")
    tr.wrap(LineProtocolSink, "write", "lp.write",
            attrs=lambda sink, body, *a, **k: {"key": request_key(body)},
            on_result=note(points=int))
    tr.wrap(InfluxQLEngine, "query", "influxql.query",
            attrs=lambda eng, q, *a, **k: {"key": request_key(q), "scan": "GROUP BY *" in q})

    def counted_retry(orig):
        def traced(fn, *a, **k):
            calls = [0]

            def counted():
                calls[0] += 1
                return fn()

            try:
                return orig(counted, *a, **k)
            finally:
                tr.count("copy.retries", calls[0] - 1)

        return traced

    tr.patch(copy_mod, "retry", counted_retry)


def request_key(text: str) -> str:
    """What ties a server-side span to the client request that caused
    it: a digest of the body or statement text."""
    return hashlib.sha1(text.strip().rstrip(";").strip().encode()).hexdigest()


#: (name, unit) of every per-layer metric, in report order
SPEC = [
    ("session.get_spark_s", "s"),
    ("cli.build_server_s", "s"),
    ("catalog.get_schema_s", "s"),
    ("catalog.replicate_schema_s", "s"),
    ("agent.replicate_data_s", "s"),
    ("copy.chunks", "count"),
    ("copy.copy_range_calls", "count"),
    ("copy.copy_range_p50_s", "s"),
    ("copy.copy_range_p90_s", "s"),
    ("copy.chunk_p50_s", "s"),
    ("copy.points_per_call", "count"),
    ("copy.retries", "count"),
    ("copy.recovered_chunks", "count"),
    ("copy.recovery_s", "s"),
    ("locking.lock_wait_s", "s"),
    ("parquet.scan_time_range_calls", "count"),
    ("parquet.scan_time_range_ms", "ms"),
    ("replicate.run_available_p50_s", "s"),
    ("replicate.batches", "count"),
    ("replicate.rows_per_batch", "count"),
    ("monitor.check_once_p50_ms", "ms"),
    ("monitor.recoveries", "count"),
    ("monitor.recovery_p50_s", "s"),
    ("txtable.replace_tagged_p50_s", "s"),
    ("txtable.commits", "count"),
    ("lp.write_p50_ms", "ms"),
    ("lp.points", "count"),
    ("lp.files_written", "count"),
    ("influxql.scan_plan_p50_ms", "ms"),
    ("influxql.agg_plan_p50_ms", "ms"),
    ("influxql.rows_returned", "count"),
    ("api.write_self_p50_ms", "ms"),
    ("api.scan_self_p50_ms", "ms"),
    ("api.agg_self_p50_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.jobs_per_copy_call", "count"),
    ("spark.jobs_per_tick", "count"),
    ("spark.jobs_per_request", "count"),
    ("bench.ticks", "count"),
    ("bench.requests", "count"),
] + [(f"self.{layer}_s", "s") for layer in LAYERS + ("api",)] + [
    ("trace.spans", "count"),
    ("trace.span_cost_us", "us"),
    ("trace.overhead_frac", "frac"),
    ("traced.setup_s", "s"),
    ("traced.points_per_s", "1/s"),
    ("traced.op_p50_ms", "ms"),
    ("traced.cpu_ms_per_kpoint", "ms"),
]
UNITS = dict(SPEC)


def _p(values, q=0.5, scale=1.0) -> float:
    return pct(values, q) * scale if values else 0.0


def span_cost_s(n: int = 2000) -> float:
    """Mean cost of one span on this machine, from a fresh tracer."""
    from tracing import Tracer

    tr = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("calibrate"):
            pass
    return (time.perf_counter() - t0) / n


def metrics(tr, wl, e2e: dict, jobs: int, tasks: int, measured_s: float) -> dict:
    run = tr.closed("run")
    selfs = tr.self_times()

    def spans(name, phase="run"):
        return [s for s in (run if phase == "run" else tr.closed(phase)) if s["name"] == name]

    def dur(ss):
        return [s["t1"] - s["t0"] for s in ss]

    m: dict[str, float] = {}
    m["session.get_spark_s"] = _p(dur(spans("session.get_spark", "setup")))
    m["cli.build_server_s"] = _p(dur(spans("cli.build_server", "setup")))
    m["catalog.get_schema_s"] = _p(dur(spans("catalog.get_schema")))
    m["catalog.replicate_schema_s"] = _p(dur(spans("catalog.replicate_schema")))
    m["agent.replicate_data_s"] = _p(dur(spans("agent.replicate_data")))

    # copy: the first sync under each sync_dbrp is the main pass, the
    # rest re-run one bad chunk each at chunk/10
    syncs: dict = {}
    for s in spans("copy.sync"):
        syncs.setdefault(s["parent"], []).append(s)
    main, recovery = set(), []
    for group in syncs.values():
        group.sort(key=lambda s: s["t0"])
        main.add(group[0]["id"])
        recovery += group[1:]
    copies = spans("copy.copy_range")
    m["copy.chunks"] = sum(s["attrs"]["n"] for s in spans("time.chunk_windows") if s["parent"] in main)
    m["copy.copy_range_calls"] = len(copies)
    m["copy.copy_range_p50_s"] = _p(dur(copies))
    m["copy.copy_range_p90_s"] = _p(dur(copies), 0.9)
    m["copy.chunk_p50_s"] = _p(getattr(wl, "chunk_seconds", []))
    m["copy.points_per_call"] = (
        sum(s["attrs"].get("points", 0) for s in copies) / len(copies) if copies else 0.0
    )
    m["copy.retries"] = tr.counters.get("run:copy.retries", 0)
    m["copy.recovered_chunks"] = sum(s["attrs"]["bad"] == 0 for s in recovery)
    m["copy.recovery_s"] = sum(dur(recovery))
    m["locking.lock_wait_s"] = sum(dur(spans("locking.table_lock")))
    scans = spans("parquet.scan_time_range")
    m["parquet.scan_time_range_calls"] = len(scans)
    m["parquet.scan_time_range_ms"] = sum(dur(scans)) * 1000.0

    avail = spans("replicate.run_available")
    m["replicate.run_available_p50_s"] = _p(dur(avail))
    m["replicate.batches"] = sum(s["attrs"].get("batches", 0) for s in avail)
    rows = sum(c["points"] for c in getattr(wl, "cycles", []))
    m["replicate.rows_per_batch"] = rows / m["replicate.batches"] if m["replicate.batches"] else 0.0
    checks = spans("monitor.check_once")
    rec = [s for s in checks if s["attrs"].get("recovered")]
    m["monitor.check_once_p50_ms"] = _p(dur([s for s in checks if not s["attrs"].get("recovered")]), scale=1000.0)
    m["monitor.recoveries"] = len(rec)
    m["monitor.recovery_p50_s"] = _p(dur(rec))
    commits = spans("txtable.replace_tagged")
    m["txtable.replace_tagged_p50_s"] = _p(dur(commits))
    m["txtable.commits"] = len(commits)

    writes = spans("lp.write")
    m["lp.write_p50_ms"] = _p(dur(writes), scale=1000.0)
    m["lp.points"] = sum(s["attrs"].get("points", 0) for s in writes)
    m["lp.files_written"] = getattr(wl, "sink_files", lambda: 0)()
    queries = spans("influxql.query")
    m["influxql.scan_plan_p50_ms"] = _p(dur([s for s in queries if s["attrs"]["scan"]]), scale=1000.0)
    m["influxql.agg_plan_p50_ms"] = _p(dur([s for s in queries if not s["attrs"]["scan"]]), scale=1000.0)
    m["influxql.rows_returned"] = getattr(wl, "rows_returned", 0)

    # api self time: client request time minus the server span it caused
    server = {}
    for s in writes + queries:
        server.setdefault(s["attrs"]["key"], []).append(s)
    api_self: dict[str, list[float]] = {"write": [], "scan": [], "agg": []}
    for r in getattr(wl, "timed", []):
        inner = sum(
            s["t1"] - s["t0"]
            for s in server.get(request_key(r["text"]), [])
            if r["t0"] <= s["t0"] and s["t1"] <= r["t1"]
        )
        api_self[r["kind"]].append(r["t1"] - r["t0"] - inner)
    for kind, vals in api_self.items():
        m[f"api.{kind}_self_p50_ms"] = _p(vals, scale=1000.0)

    ops = wl.op_counts()
    m["spark.jobs"] = jobs
    m["spark.tasks"] = tasks
    m["spark.jobs_per_copy_call"] = jobs / len(copies) if copies else 0.0
    ticks = ops.get("ticks", 0) + ops.get("outages", 0)
    m["spark.jobs_per_tick"] = jobs / ticks if ticks else 0.0
    m["spark.jobs_per_request"] = jobs / ops["requests"] if ops.get("requests") else 0.0
    m["bench.ticks"] = ticks
    m["bench.requests"] = ops.get("requests", 0)

    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(
            selfs[s["id"]] for s in run if s["name"].split(".", 1)[0] == layer
        )
    m["self.api_s"] = sum(sum(v) for v in api_self.values())

    cost = span_cost_s()
    m["trace.spans"] = len(run)
    m["trace.span_cost_us"] = cost * 1e6
    m["trace.overhead_frac"] = len(run) * cost / measured_s
    for k in ("setup_s", "points_per_s", "op_p50_ms", "cpu_ms_per_kpoint"):
        m[f"traced.{k}"] = e2e[k]
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in SPEC}
