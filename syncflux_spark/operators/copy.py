"""Chunked time-range copy / sync — the reference's core dataflow.

Re-expresses (SURVEY §2.5):

- C1 ``Sync``      (pkg/agent/sync.go:95-213): newest-first chunk loop,
  per-measurement fan-out, per-chunk reports.
- C2 ``SyncDBRP``  (pkg/agent/sync.go:215-232): 1-level bad-chunk
  recovery at chunk/10 granularity.
- C5 reports       (pkg/agent/sync.go:11-93).
- C6 retry         (pkg/agent/try/try.go:15-30).
- K1 ``WriteDB``   (pkg/agent/client.go:531-559): the write path.
  Batch splitting (K2 ``BpSplit``) is subsumed by
  ``spark.sql.files.maxRecordsPerFile`` / partitioned writes.

Spark-first design notes
------------------------
* One measurement copy = ``read → half-open time filter → write``; the
  filter pushes down to parquet row-group pruning and, on a
  time-partitioned table, partition pruning. Spark parallelizes the
  scan/write internally, so the reference's worker pool maps to task
  parallelism; a ``ThreadPoolExecutor`` submits concurrent
  per-measurement *jobs* so small measurements don't serialize behind
  big ones (reference ``num-workers``, sync.go:141).
* The chunk loop exists for progress reporting + bounded units of
  retry/recovery, not memory (Spark spills). Chunks run newest-first
  (sync.go:144-146) so fresh data recovers first.
* Idempotency (SURVEY §7.3 hard-part #1): the reference silently
  relies on InfluxDB upserting duplicate points on chunk re-runs.
  A naive append sink double-writes. We write each chunk to a
  deterministic subdirectory keyed by the chunk window
  (``part=<start_ns>-<end_ns>``) with overwrite semantics, so a re-run
  of a chunk replaces exactly that chunk's output — the parquet
  equivalent of a Delta ``replaceWhere``/dynamic partition overwrite.
* Counts ride ``df.observe`` metrics ON the write pass — a separate
  ``count()`` action would scan every chunk twice, which at 100 TB
  doubles the read I/O of a full copy.
"""

from __future__ import annotations

import time as _time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from syncflux_spark.functions.time import chunk_windows, parse_duration
from syncflux_spark.sources.parquet import scan_time_range


@dataclass
class ChunkReport:
    """C5 (pkg/agent/sync.go:11-53): one chunk's outcome. Unlike the
    reference (which counts a failed measurement's points anyway,
    SURVEY §4 quirks), points are counted per successfully written
    measurement only."""

    num: int
    total: int
    start: datetime
    end: datetime
    points: int = 0
    elapsed: float = 0.0
    read_errors: int = 0
    write_errors: int = 0
    measurements: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.read_errors == 0 and self.write_errors == 0


@dataclass
class SyncReport:
    """C5 (pkg/agent/sync.go:55-93): whole-sync rollup."""

    src: str
    dst: str
    start: datetime
    end: datetime
    chunks: list[ChunkReport] = field(default_factory=list)

    @property
    def points(self) -> int:
        return sum(c.points for c in self.chunks)

    @property
    def elapsed(self) -> float:
        return sum(c.elapsed for c in self.chunks)

    @property
    def read_errors(self) -> int:
        return sum(c.read_errors for c in self.chunks)

    @property
    def write_errors(self) -> int:
        return sum(c.write_errors for c in self.chunks)

    @property
    def bad_chunks(self) -> list[ChunkReport]:
        return [c for c in self.chunks if not c.ok]

    def as_dict(self) -> dict:
        return {
            "src": self.src,
            "dst": self.dst,
            "points": self.points,
            "elapsed_sec": round(self.elapsed, 3),
            "read_errors": self.read_errors,
            "write_errors": self.write_errors,
            "chunks": len(self.chunks),
            "bad_chunks": len(self.bad_chunks),
        }


def retry(fn, max_retries: int = 5, delay: float = 0.0, backstop: int = 10):
    """C6 (pkg/agent/try/try.go:15-30): retry until success, bounded by
    min(max_retries, backstop). Executor-side failures are already
    retried by Spark (spark.task.maxFailures); this wraps whole-job
    (driver-visible) failures, e.g. a sink outage."""
    attempts = min(max_retries, backstop)
    last_err: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — app-level retry boundary
            last_err = e
            if attempt < attempts - 1 and delay > 0:
                _time.sleep(delay)
    raise last_err  # type: ignore[misc]


def copy_range(
    df: DataFrame,
    dst_path: str,
    start,
    end,
    time_col: str = "ts",
    max_records_per_file: int = 1_000_000,
    table_format: str = "dir",
) -> int:
    """The minimum end-to-end slice (SURVEY §7.4): one measurement,
    one half-open window, read → filter → write. Returns rows written.

    Two sink formats, same chunk-replay idempotency contract:

    * ``dir`` — the window lands in a window-keyed subdirectory and
      *overwrites* it (SURVEY §7.3 #1). Correct for ONE writer per
      window; the advisory lock makes a second concurrent writer wait
      or fail loudly instead of interleaving (locking.py).
    * ``tx`` — the window commits to a txtable.TxTable via
      ``replace_tagged("win", ...)``: snapshot-isolated readers, OCC
      instead of locks (concurrent windows commute; a replayed window
      atomically swaps its previous groups), per-window ``ts_ns``
      min/max stats in the commit log for data-skipping scans, and an
      O(1)-per-commit checkpointed log — the format a 5-minute-chunk
      replicator needs (~100k commits/year never re-lists history).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    window = scan_time_range(df, start, end, time_col=time_col)
    # row count observed on the write pass itself (C5 accounting,
    # sync.go:151-196) — no second scan of the chunk
    obs = Observation()
    window = window.observe(obs, F.count(F.lit(1)).alias("n"))
    if table_format == "tx":
        from syncflux_spark.txtable import TxTable

        t = TxTable.ensure(df.sparkSession, dst_path)
        stats_cols = [c for c in ("ts_ns",) if c in window.columns]
        t.replace_tagged(
            "win",
            _win_key(start, end),
            window,
            stats_cols=stats_cols,
            write_options={"maxRecordsPerFile": max_records_per_file},
        )
        return int(obs.get["n"])
    if table_format != "dir":
        raise ValueError(f"table_format must be 'dir' or 'tx', got {table_format!r}")
    from syncflux_spark.locking import table_lock

    part = f"win={_win_key(start, end)}"
    with table_lock(f"{dst_path}/{part}"):
        (
            window.write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .parquet(f"{dst_path}/{part}")
        )
    return int(obs.get["n"])


def _win_key(start, end) -> str:
    def k(x):
        if isinstance(x, datetime):
            return str(int(x.timestamp() * 1000))
        return str(x).replace(" ", "T").replace(":", "-")

    return f"{k(start)}_{k(end)}"


def sync(
    spark: SparkSession,
    measurements: dict[str, DataFrame],
    dst_root: str,
    start: datetime,
    end: datetime,
    chunk: str | timedelta = "5m",
    max_retention: str | timedelta = "8760h",
    num_workers: int = 4,
    time_col: str = "ts",
    rw_max_retries: int = 5,
    rw_retry_delay: float = 0.0,
    fail_injector=None,
    src_label: str = "src",
    table_format: str = "dir",
) -> SyncReport:
    """C1 ``Sync`` (pkg/agent/sync.go:95-213).

    measurements: name → source DataFrame (already typed; in catalog
    terms, every measurement of one (db, rp)).
    dst_root: destination directory; measurement ``m`` chunk output
    lands at ``{dst_root}/{m}/win=<start>_<end>/`` (``dir`` format)
    or as a window-tagged commit to the TxTable at
    ``{dst_root}/{m}`` (``tx`` format — see copy_range; concurrent
    measurements write disjoint tables, concurrent windows of one
    measurement commute under OCC).

    Chunks iterate newest→oldest; within a chunk, measurements fan out
    on a thread pool (concurrent Spark jobs — Spark's FAIR scheduling
    keeps the cluster busy when a measurement is small).

    ``fail_injector(measurement, start, end)`` → raise to simulate a
    failed read/write (test hook for recovery semantics, §5.3 tests).
    """
    windows = chunk_windows(start, end, chunk, max_retention)
    report = SyncReport(src=src_label, dst=dst_root, start=start, end=end)
    total = len(windows)

    for i, (s, e) in enumerate(windows):
        t0 = _time.monotonic()
        cr = ChunkReport(num=i + 1, total=total, start=s, end=e)

        def copy_one(item, s=s, e=e, cr=cr):
            name, df = item
            if fail_injector is not None:
                fail_injector(name, s, e)
            n = copy_range(
                df,
                f"{dst_root}/{name}",
                s,
                e,
                time_col=time_col,
                table_format=table_format,
            )
            return name, n

        with ThreadPoolExecutor(max_workers=num_workers) as pool:
            futures = {
                pool.submit(
                    retry,
                    (lambda it=item: copy_one(it)),
                    rw_max_retries,
                    rw_retry_delay,
                ): item[0]
                for item in measurements.items()
            }
            for fut, name in futures.items():
                try:
                    mname, n = fut.result()
                    cr.measurements[mname] = n
                    cr.points += n
                except Exception:  # noqa: BLE001
                    cr.write_errors += 1
        cr.elapsed = _time.monotonic() - t0
        report.chunks.append(cr)
    return report


def sync_dbrp(
    spark: SparkSession,
    measurements: dict[str, DataFrame],
    dst_root: str,
    start: datetime,
    end: datetime,
    chunk: str | timedelta = "5m",
    recovery_divisor: int = 10,
    **kwargs,
) -> SyncReport:
    """C2 ``SyncDBRP`` (pkg/agent/sync.go:215-232): run C1; re-run each
    bad chunk at ``chunk/recovery_divisor`` granularity (one level),
    for the measurements that failed in it only. Siblings that landed
    keep their output under the chunk's window key: re-copying them
    under the finer keys would duplicate their rows. A failed
    measurement's finer-grain re-run is idempotent over whatever its
    failed attempt managed to write (window-keyed overwrites)."""
    chunk_td = parse_duration(chunk)
    report = sync(spark, measurements, dst_root, start, end, chunk=chunk_td, **kwargs)
    bad = report.bad_chunks
    if not bad:
        return report
    fine = chunk_td / recovery_divisor
    # recovery pass: drop the fail_injector unless caller re-supplies it
    kwargs.pop("fail_injector", None)
    for c in bad:
        failed = {k: v for k, v in measurements.items() if k not in c.measurements}
        sub = sync(spark, failed, dst_root, c.start, c.end, chunk=fine, **kwargs)
        # the bad chunk's accounting = its landed siblings + the
        # recovery outcome (sub.chunks are NOT appended — that would
        # double-count points)
        c.read_errors = sub.read_errors
        c.write_errors = sub.write_errors
        c.points += sub.points
        for s in sub.chunks:
            for k, n in s.measurements.items():
                c.measurements[k] = c.measurements.get(k, 0) + n
    return report


def read_copied(spark: SparkSession, dst_root: str, measurement: str) -> DataFrame:
    """Read back everything copied for one measurement (all windows),
    auto-detecting the sink format: a ``_txlog`` directory means a
    TxTable (snapshot-isolated read of the latest commit); otherwise
    window directories are plain subdirs and a recursive read merges
    them — schema is identical across windows either way."""
    import os

    path = f"{dst_root}/{measurement}"
    if os.path.isdir(os.path.join(path, "_txlog")):
        from syncflux_spark.txtable import TxTable

        return TxTable(spark, path).snapshot()
    return spark.read.option("recursiveFileLookup", "true").parquet(path)
