#!/usr/bin/env python3
"""Run one workload over several seeds and print each metric's median
and quartile spread ((q3 - q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them).

    python3 sfbench/steady.py --workload outage_backfill --seeds 1-10 --seconds 20

Runs are sequential, one process each, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def invoke(workload: str, seed: int, seconds, trace: int = 0, mini: bool = False,
           cwd: str = ROOT, script: str | None = None) -> subprocess.CompletedProcess:
    """One benchmark run in its own process (``script`` defaults to
    this checkout's run.py)."""
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    return subprocess.run(cmd + (["--mini"] if mini else []), cwd=cwd,
                          capture_output=True, text=True, check=False, timeout=600)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--seconds", default="20")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        out = invoke(args.workload, seed, args.seconds, int(args.trace))
        wall = time.monotonic() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode} after {wall:.1f}s", flush=True)
            print(out.stderr[-2000:], file=sys.stderr)
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {wall:.1f}s " + json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
        else:
            spread = 0.0
        print(f"{k:32s} n={len(vals):2d} median={med:14.4f} spread={spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
