"""``outage_backfill``: ``hamonitor`` over a live replication stream.

A ``ReplicationStream`` with ``table_format="tx"`` replicates a source
directory. Every tick the generator lands one file (every host over
``SECONDS_PER_FILE`` seconds at 10 s: 2,000 points at full size).
While the slave is up, the tick runs ``run_available()`` and then a
``HAMonitor.check_once()``; the monitor's slave probe is a flag this
benchmark controls, and its ``recover`` callback is ``run_available``.
Each outage cycle runs ``STEADY_TICKS`` steady ticks, then takes the
slave down for ``DOWN_TICKS`` ticks while files keep landing; the next
``check_once`` backfills the gap as one catch-up batch. Ticks and the
closing recovery form a closed loop. The seed sets the files' data.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from harness import Segment, pct, summarize

DOWN_TICKS = 3
#: steady ticks before each outage. The same in every cycle: a cycle's
#: points per second falls with its share of steady ticks (one backfill
#: moves four files in about the time of one tick), so cycles of seeded
#: lengths made the gated median depend on the seed's mix of lengths
STEADY_TICKS = 4
SECONDS_PER_FILE = 100


class Outage:
    def __init__(self, run, mini: bool):
        self.run = run
        self.hosts = 20 if mini else 200
        self.landed: list[pa.Table] = []
        self.tick_s: list[float] = []
        self.check_ms: list[float] = []
        self.backfill_s: list[float] = []
        self.outages = 0
        self.outages_untimed = 0
        self.recover_errors: list[str] = []
        #: one harness.Segment record per timed outage cycle
        self.cycles: list[dict] = []

    def generate(self) -> None:
        """Files are made on demand (``_file``), each from its own
        seeded stream, outside every timed region."""

    def _file(self, i: int) -> pa.Table:
        lo = inputs.EPOCH_S + i * SECONDS_PER_FILE
        return inputs.points(self.run.seed, f"file{i}", self.hosts, lo, lo + SECONDS_PER_FILE)

    def _land(self) -> int:
        """Write the next file atomically (hidden name, then rename:
        the file source ignores dot-files). Returns its point count."""
        i = len(self.landed)
        tbl = self._file(i)
        tmp = os.path.join(self.src, f".part-{i:05d}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.src, f"part-{i:05d}.parquet"))
        self.landed.append(tbl)
        return tbl.num_rows

    # -- program-side start -------------------------------------------------
    def start(self, spark, round_dir: str) -> None:
        from syncflux_spark.streaming.monitor import HAMonitor
        from syncflux_spark.streaming.replicate import ReplicationStream

        self.spark = spark
        self.landed = []
        self.src = os.path.join(round_dir, "src")
        self.dst = os.path.join(round_dir, "replica")
        os.makedirs(self.src)
        self.stream = ReplicationStream(
            spark, self.src, self.dst, os.path.join(round_dir, "checkpoint"),
            table_format="tx",
        )
        self.slave_up = True
        self.monitor = HAMonitor(
            master_probe=lambda: True,
            slave_probe=lambda: self.slave_up,
            recover=self._recover,
            check_interval=timedelta(seconds=10),
        )

    def _recover(self, _start, _end):
        """HAMonitor swallows recover exceptions; keep them to count a
        failed recovery."""
        try:
            return self.stream.run_available()
        except Exception as ex:  # noqa: BLE001 — reported as a failed op
            self.recover_errors.append(f"{type(ex).__name__}: {ex}")
            raise

    def warmup(self) -> None:
        """The first file through ``run_available`` and one check."""
        self._land()
        self.stream.run_available()
        self.monitor.check_once()

    def stop(self) -> None:
        pass

    # -- measured phase -----------------------------------------------------
    def mark(self) -> None:
        """Ticks so far settled the JVM; time only those after."""
        self.tick_s, self.check_ms, self.backfill_s = [], [], []
        self.cycles = []
        self.outages_untimed = self.outages

    def measure(self, done) -> None:
        """Outage cycles until ``done(cycles of this call)``."""
        first = len(self.cycles)
        while not done(self.cycles[first:]):
            seg, ticks_ms, busy, points = Segment(self.run), [], 0.0, 0
            for _ in range(STEADY_TICKS):
                n = self._land()
                t0 = time.monotonic()
                self.stream.run_available()
                t1 = time.monotonic()
                self.monitor.check_once()
                t2 = time.monotonic()
                self.tick_s.append(t1 - t0)
                self.check_ms.append((t2 - t1) * 1000.0)
                ticks_ms.append((t1 - t0) * 1000.0)
                busy += t1 - t0
                points += n
            self.slave_up = False
            for _ in range(DOWN_TICKS):
                points += self._land()
                self.monitor.check_once()
            self.slave_up = True
            points += self._land()
            t0 = time.monotonic()
            self.monitor.check_once()
            dt = time.monotonic() - t0
            self.backfill_s.append(dt)
            self.cycles.append(seg.close(points, busy + dt, ticks_ms))
            self.outages += 1

    # -- correctness --------------------------------------------------------
    def verify(self) -> list[str]:
        from syncflux_spark.txtable import TxTable

        errs = [f"recovery raised {e}" for e in self.recover_errors]
        status = self.monitor.get_status()
        if status.num_recovers != self.outages:
            errs.append(f"monitor recovered {status.num_recovers} times, outages {self.outages}")
        if status.cluster_state.value != "OK":
            errs.append(f"cluster ends in state {status.cluster_state.value}")
        want = inputs.digest(pa.concat_tables(self.landed))
        got = inputs.digest(TxTable(self.spark, self.dst).snapshot().toArrow())
        if got != want:
            errs.append(f"replica (rows, hash) {got}, source {want}")
        return errs

    # -- results ------------------------------------------------------------
    def results(self) -> dict:
        outages = self.outages - self.outages_untimed
        attempted = len(self.tick_s) + outages
        points = sum(c["points"] for c in self.cycles)
        busy = sum(c["seconds"] for c in self.cycles)
        gated = summarize(self.cycles)
        return {
            "points": points,
            "points_per_s": gated["points_per_s"],
            "op_p50_ms": gated["op_p50_ms"],
            "cpu_ms_per_kpoint": gated["cpu_ms_per_kpoint"],
            "attempted": attempted,
            "failed": len(self.recover_errors),
            "report": {
                "tick_p50_s": (gated["op_p50_ms"] / 1000.0, "s"),
                "tick_p50_s_all": (pct(self.tick_s, 0.5), "s"),
                "tick_p90_s": (pct(self.tick_s, 0.9), "s"),
                "ticks_timed": (len(self.tick_s), "count"),
                "backfill_p50_s": (pct(self.backfill_s, 0.5), "s"),
                "outages": (outages, "count"),
                "cycles_used": (gated["segments_used"], "count"),
                "steal_p50": (gated["steal_p50"], "frac"),
                "check_once_p50_ms": (pct(self.check_ms, 0.5), "ms"),
                "replicated_points": (points, "count"),
                "points_per_s_all": (points / busy, "1/s"),
            },
        }

    def op_counts(self) -> dict[str, int]:
        return {"ticks": len(self.tick_s), "outages": self.outages - self.outages_untimed}
