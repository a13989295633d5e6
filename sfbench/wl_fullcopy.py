"""``fullcopy_5m``: the reference's ``fullcopy`` (schema, then data).

A source catalog database ``telegraf`` holds two retention policies,
the infinite default ``autogen`` and a ``720h`` one named ``month``,
with two measurements each. Every pass calls
``agent.action_replicaschema`` (under a fresh target database name)
and then ``agent.replicate_data`` over the same fixed window at 5m
chunks, ``num_workers=4`` and the default ``dir`` sink. A seeded 5% of
(measurement, chunk) pairs fail on every attempt through the public
``fail_injector`` hook, so ``sync_dbrp``'s chunk/10 recovery runs.
"""

from __future__ import annotations

import glob
import os
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from harness import Segment, pct, summarize

DB = "telegraf"
#: rp name -> (duration, default, measurements)
RPS = {
    "autogen": ("0s", True, ("cpu", "mem")),
    "month": ("720h", False, ("disk", "net")),
}
CHUNK_S = 300
FAIL_FRAC = 0.05


class InjectedFailure(RuntimeError):
    pass


class FullCopy:
    """``inject=False`` is ``fullcopy_5m_clean``: the same passes with
    no injected failures, so the recovery path does not run."""

    def __init__(self, run, mini: bool, inject: bool = True):
        self.run = run
        self.inject = inject
        self.hosts = 20 if mini else 200
        self.chunks = 2 if mini else 4
        self.lo_s = inputs.EPOCH_S + 600
        self.hi_s = self.lo_s + self.chunks * CHUNK_S
        self.passes: list[dict] = []
        self.timed_from = 0

    # -- inputs -------------------------------------------------------------
    def generate(self) -> None:
        """Each measurement spans 10 minutes either side of the window,
        so the time filter has rows to drop."""
        self.src: dict[str, str] = {}
        self.expected: dict[str, tuple[int, int]] = {}
        self.boundary_points = 0
        lo_ns, hi_ns = self.lo_s * inputs.NS, self.hi_s * inputs.NS
        for rp, (_d, _default, ms) in RPS.items():
            for m in ms:
                tbl = inputs.points(
                    self.run.seed, f"{rp}.{m}", self.hosts,
                    self.lo_s - 600, self.hi_s + 600,
                )
                d = self.run.path("src", DB, f"{rp}__{m}")
                os.makedirs(d)
                pq.write_table(tbl, os.path.join(d, "part-0.parquet"))
                self.src[m] = d
                win = inputs.window(tbl, lo_ns, hi_ns)
                self.expected[m] = inputs.digest(win)
                t = win["time_ns"].to_numpy()
                self.boundary_points += int(((t % (CHUNK_S * inputs.NS)) == 0).sum())
        self.window_points = sum(n for n, _h in self.expected.values())
        # seeded failing (measurement, chunk start) pairs
        pairs = [
            (m, self.lo_s + i * CHUNK_S)
            for _rp, (_d, _df, ms) in RPS.items()
            for m in ms
            for i in range(self.chunks)
        ]
        k = max(1, round(FAIL_FRAC * len(pairs))) if self.inject else 0
        rng = inputs.rng_for(self.run.seed, "failures")
        self.fail_pairs = {pairs[i] for i in rng.choice(len(pairs), k, replace=False)}
        self.pairs_per_pass = len(pairs)

    def fail_injector(self, name: str, start: datetime, _end: datetime) -> None:
        if (name, int(start.timestamp())) in self.fail_pairs:
            raise InjectedFailure(f"injected failure {name}@{start}")

    # -- program-side start -------------------------------------------------
    def start(self, spark, round_dir: str) -> None:
        from syncflux_spark.catalog import (
            FieldSch,
            MeasurementSch,
            RetPol,
            SparkCatalog,
        )

        self.spark = spark
        self.dir = round_dir
        self.catalog = SparkCatalog(spark)
        self.catalog.create_db(DB)
        fields = {f: FieldSch(f, t) for f, t in inputs.FIELDS.items()}
        for rp, (duration, default, ms) in RPS.items():
            pol = RetPol(name=rp, duration=duration, default=default)
            for m in ms:
                self.catalog.create_measurement(
                    DB, pol, MeasurementSch(m, dict(fields), list(inputs.TAGS)),
                    location=self.src[m],
                )

    def warmup(self) -> None:
        """One chunk of one measurement through ``copy_range``."""
        from syncflux_spark.operators import copy as copy_mod

        df = self.catalog.measurement_df(DB, "cpu", "autogen")
        copy_mod.copy_range(
            df, os.path.join(self.dir, "warmup"),
            _dt(self.lo_s), _dt(self.lo_s + CHUNK_S),
        )

    def stop(self) -> None:
        pass

    # -- measured phase -----------------------------------------------------
    def mark(self) -> None:
        """Passes so far settled the JVM; time only those after."""
        self.timed_from = len(self.passes)

    def measure(self, done) -> None:
        """Copy passes until ``done(passes of this call)``."""
        from syncflux_spark import agent

        first = len(self.passes)
        while not done(self.passes[first:]):
            i = len(self.passes)
            seg = Segment(self.run)
            target = f"{DB}_r{i}"
            schema = agent.action_replicaschema(
                self.catalog, db_filter=f"^{DB}$", new_db=target,
                location_root=os.path.join(self.dir, f"schema{i}"),
            )
            dst = os.path.join(self.dir, f"copy{i}")
            t0 = time.monotonic()
            reports = agent.replicate_data(
                self.spark, self.catalog, schema, dst,
                _dt(self.lo_s), _dt(self.hi_s),
                chunk="5m", num_workers=4,
                fail_injector=self.fail_injector if self.inject else None,
            )
            busy = time.monotonic() - t0
            chunk_ms = [c.elapsed * 1000.0 for rep in reports for c in rep.chunks]
            self.passes.append({
                **seg.close(self.window_points, busy, chunk_ms),
                "reports": reports,
                "dst": os.path.join(dst, target),
            })

    # -- correctness --------------------------------------------------------
    def verify(self) -> list[str]:
        errs = []
        if self.boundary_points == 0:
            errs.append("inputs carry no chunk-boundary points")
        for i, p in enumerate(self.passes):
            got_points: dict[str, int] = {}
            for rep in p["reports"]:
                if rep.bad_chunks:
                    errs.append(f"pass {i}: {rep.src} has {len(rep.bad_chunks)} bad chunks")
                for c in rep.chunks:
                    for m, n in c.measurements.items():
                        got_points[m] = got_points.get(m, 0) + n
            for rp, (_d, _df, ms) in RPS.items():
                for m in ms:
                    want = self.expected[m]
                    if got_points.get(m) != want[0]:
                        errs.append(
                            f"pass {i}: {m} reported {got_points.get(m)} points, "
                            f"want {want[0]}"
                        )
                    got = _read_copy(os.path.join(p["dst"], rp, m))
                    if got != want:
                        errs.append(
                            f"pass {i}: {m} copied (rows, hash) {got}, source "
                            f"window {want}"
                        )
        return errs

    # -- results ------------------------------------------------------------
    def results(self) -> dict:
        timed = self.passes[self.timed_from:]
        pts = self.window_points
        secs = sum(p["seconds"] for p in timed)
        chunk_ms = [s * 1000.0 for s in self.chunk_seconds]
        gated = summarize(timed)
        attempted = self.pairs_per_pass * len(timed)
        failed = sum(
            c.write_errors + c.read_errors
            for p in timed for rep in p["reports"] for c in rep.chunks
        )
        return {
            "points": pts * len(timed),
            "points_per_s": gated["points_per_s"],
            "op_p50_ms": gated["op_p50_ms"],
            "cpu_ms_per_kpoint": gated["cpu_ms_per_kpoint"],
            "attempted": attempted,
            "failed": failed,
            "report": {
                "copy_points_per_s": (gated["points_per_s"], "1/s"),
                "copy_points_per_s_all": (pts * len(timed) / secs, "1/s"),
                "chunk_p50_ms": (gated["op_p50_ms"], "ms"),
                "chunk_p50_ms_all": (pct(chunk_ms, 0.5), "ms"),
                "chunk_p90_ms": (pct(chunk_ms, 0.9), "ms"),
                "chunks_timed": (len(chunk_ms), "count"),
                "passes_timed": (len(timed), "count"),
                "passes_used": (gated["segments_used"], "count"),
                "steal_p50": (gated["steal_p50"], "frac"),
                "pass_max_s": (max(p["seconds"] for p in timed), "s"),
                "pass_min_s": (min(p["seconds"] for p in timed), "s"),
                "window_points": (pts, "count"),
                "boundary_points": (self.boundary_points, "count"),
                "injected_failures_per_pass": (len(self.fail_pairs), "count"),
            },
        }

    @property
    def chunk_seconds(self) -> list[float]:
        timed = self.passes[self.timed_from:]
        return [c.elapsed for p in timed for rep in p["reports"] for c in rep.chunks]

    def op_counts(self) -> dict[str, int]:
        return {"copy_passes": len(self.passes) - self.timed_from}


def _dt(sec: int) -> datetime:
    return datetime.fromtimestamp(sec, tz=timezone.utc)


def _read_copy(path: str) -> tuple[int, int]:
    files = sorted(glob.glob(os.path.join(path, "win=*", "*.parquet")))
    if not files:
        return 0, 0
    tbl = pa.concat_tables(
        pq.read_table(f, columns=list(inputs.DIGEST_COLS)) for f in files
    )
    return inputs.digest(tbl)


class FullCopyClean(FullCopy):
    def __init__(self, run, mini: bool):
        super().__init__(run, mini, inject=False)
