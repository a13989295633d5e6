#!/usr/bin/env python3
"""syncflux benchmark: one workload, one seed, one line of results.

    python3 sfbench/run.py --workload fullcopy_5m --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the ``syncflux_spark`` package is
imported from there). Steps: generate the workload's inputs from
``--seed``; set the program up ``SETUP_ROUNDS`` times (Spark session,
the workload's program-side start, one warm-up operation) and keep the
last; drive the workload untimed for ``SETTLE_S``, then timed for
``--seconds`` in segments (copy passes, outage cycles), stretched while
the host steals CPU from the VM (harness.py); check every output;
print a report line, then the result object as the last line of
stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
public entry points of each layer in spans (tracing.py) and reports
the per-layer metrics instead (layers.py). A failed correctness check
exits 1 and prints no result; a missing program exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
#: untimed operation before measuring, so the JVM's JIT reaches its
#: steady state; verified like the measured work, never timed
SETTLE_S = 6.0

#: name -> (module, class)
WORKLOADS = {
    "fullcopy_5m": ("wl_fullcopy", "FullCopy"),
    "fullcopy_5m_clean": ("wl_fullcopy", "FullCopyClean"),
    "outage_backfill": ("wl_outage", "Outage"),
    "http_write_query": ("wl_http", "HttpMix"),
}

E2E_UNITS = {
    "setup_s": "s",
    "points_per_s": "1/s",
    "op_p50_ms": "ms",
    "cpu_ms_per_kpoint": "ms",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--mini", action="store_true",
                   help="miniature inputs (smoke test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "syncflux_spark", "__init__.py")):
        print(f"no syncflux_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from harness import Run, StopRule

    run = Run(ROOT, args.workload, args.seed)
    run.isolate_env()
    import importlib

    mod_name, cls_name = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod_name), cls_name)(run, args.mini)
    tracer = None
    t_begin = time.monotonic()
    try:
        wl.generate()
        t_gen = time.monotonic()
        if args.trace:
            import layers
            from tracing import Tracer

            tracer = Tracer()
            layers.install(tracer)
        setup_s, setup_steps = [], []
        for r in range(SETUP_ROUNDS):
            if r:
                wl.stop()
                run.stop_spark()
            t0 = time.monotonic()
            spark = run.start_spark()
            t1 = time.monotonic()
            wl.start(spark, run.path(f"round{r}"))
            t2 = time.monotonic()
            wl.warmup()
            t3 = time.monotonic()
            setup_s.append(t3 - t0)
            setup_steps.append([round(t1 - t0, 3), round(t2 - t1, 3), round(t3 - t2, 3)])
        if tracer is not None:
            tracer.phase = "settle"
        settle_s = min(SETTLE_S, args.seconds)
        wl.measure(StopRule(settle_s, stretch=False))
        wl.mark()
        if tracer is not None:
            tracer.phase = "run"
        job0 = run.last_job_id()
        t_run, cpu0 = time.monotonic(), run.cpu_seconds()
        wl.measure(StopRule(args.seconds, stretch=True))
        measured_s = time.monotonic() - t_run
        cpu_s = run.cpu_seconds() - cpu0
        jobs, tasks = run.jobs_since(job0)
        if tracer is not None:
            tracer.phase = "verify"
        t_verify = time.monotonic()
        errors = wl.verify()
        t_verified = time.monotonic()
        res = wl.results()
        rss = run.peak_rss_mb()
        wl.stop()
    finally:
        if tracer is not None:
            tracer.restore()
        run.close()
    if errors:
        for e in errors:
            print(f"INCORRECT: {e}", file=sys.stderr)
        return 1

    setup = sorted(setup_s)[len(setup_s) // 2]
    e2e = {
        "setup_s": setup,
        "points_per_s": res["points_per_s"],
        "op_p50_ms": res["op_p50_ms"],
        "cpu_ms_per_kpoint": res.get("cpu_ms_per_kpoint", cpu_s * 1e6 / res["points"]),
        "peak_rss_mb": rss,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_rounds_s": [round(s, 4) for s in setup_s],
        "setup_steps_s": {"spark_start_warmup": setup_steps},
        "settle_s": settle_s,
        "phases_s": {
            "generate": round(t_gen - t_begin, 2),
            "setup_settle": round(t_run - t_gen, 2),
            "measure": round(t_verify - t_run, 2),
            "verify": round(t_verified - t_verify, 2),
            "close": round(time.monotonic() - t_verified, 2),
        },
        "failed_ops_frac": {
            "value": res["failed"] / res["attempted"],
            "failed": res["failed"],
            "attempted": res["attempted"],
        },
        "spark": {"jobs": jobs, "tasks": tasks},
        "measured": {"wall_s": measured_s, "cpu_s": cpu_s, "points": res["points"]},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["report"].items()},
    }
    if tracer is not None:
        import layers

        metrics = layers.metrics(tracer, wl, e2e, jobs, tasks, measured_s)
        out_dir = os.path.join(ROOT, ".sfbench")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print("report " + json.dumps(report))
    print(json.dumps({
        "correct": True,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
