#!/usr/bin/env python3
"""Tracing overhead: run one workload and seed untraced, then traced,
and print the gap between the end-to-end metrics of the two runs (the
traced run reports its own as ``traced.*``).

    python3 sfbench/overhead.py --workload fullcopy_5m_clean --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import sys

from steady import invoke


def run(args, trace: int) -> dict:
    out = invoke(args.workload, args.seed, args.seconds, trace)
    if out.returncode != 0:
        raise SystemExit(f"trace={trace} run failed ({out.returncode}):\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", default="20")
    args = p.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    for k in ("setup_s", "points_per_s", "op_p50_ms", "cpu_ms_per_kpoint"):
        a, b = plain[k]["value"], traced[f"traced.{k}"]["value"]
        print(f"{k:14s} untraced={a:12.4f} traced={b:12.4f} gap={(b - a) / a:+.3%}")
    for k in ("trace.spans", "trace.span_cost_us", "trace.overhead_frac"):
        print(f"{k:20s} {traced[k]['value']:.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
