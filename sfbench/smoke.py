#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload at miniature
size, untraced and traced, from the checkout root.

    python3 sfbench/smoke.py

A workload passes when it exits 0 and its last line is a result object
with every metric of its mode. A workload listed in ``BLOCKED`` must
instead fail its correctness gate (exit 1, an ``INCORRECT`` line): it
is blocked by a known defect of the program, and the smoke test says
so loudly once the defect is gone. Also checks that the benchmark
refuses to run without the program (exit 2, no result).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: workload -> the defect that fails its correctness gate today
BLOCKED = {
    "fullcopy_5m": "sync_dbrp re-copies a bad chunk's sibling measurements "
                   "at chunk/10 under new window keys, duplicating their rows",
    "http_write_query": "/query cannot JSON-encode unsigned (decimal) fields, "
                        "and concurrent /write requests lose acknowledged points",
}


def main() -> int:
    import layers
    from run import E2E_UNITS, WORKLOADS
    from steady import invoke

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    if want[0] != E2E_UNITS or want[1] != layers.UNITS:
        problems.append("BENCHMARK.json metrics differ from run.py/layers.py")
    for wl in WORKLOADS:
        for trace in (0, 1):
            out = invoke(wl, 7, 2, trace, mini=True)
            tag = f"{wl} trace={trace}"
            if wl in BLOCKED:
                if out.returncode == 1 and "INCORRECT" in out.stderr:
                    print(f"{tag}: blocked as expected ({BLOCKED[wl]})")
                else:
                    problems.append(f"{tag}: expected the known defect, got exit {out.returncode}")
                continue
            if out.returncode != 0:
                problems.append(f"{tag}: exit {out.returncode}: {out.stderr[-500:]}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"] or got != want[trace] or res["attempted"] < 1:
                problems.append(f"{tag}: bad result {res}")
            else:
                print(f"{tag}: ok, {res['attempted']} ops, {res['failed']} failed")
    # without the program the benchmark must refuse, printing no result
    os.makedirs(os.path.join(ROOT, ".sfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".sfbench"))
    try:
        shutil.copytree(HERE, os.path.join(bare, "sfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        out = invoke("outage_backfill", 7, 2, mini=True, cwd=bare,
                     script=os.path.join(bare, "sfbench", "run.py"))
        if out.returncode == 0 or out.stdout.strip():
            problems.append(f"bare checkout: exit {out.returncode}, stdout {out.stdout!r}")
        else:
            print(f"bare checkout: refused with exit {out.returncode}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
