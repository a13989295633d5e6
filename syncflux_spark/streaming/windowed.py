"""Watermarked event-time windowed aggregation over a file stream.

The reference has no event-time processing at all — its only notion of
"late data" is the recovery backfill window after a slave outage
(pkg/agent/hacluster.go:305-342). A Spark-first continuous engine gets
the general mechanism instead: ``withWatermark`` + tumbling
``window()`` aggregation in append mode, which

* emits each window exactly once, when the watermark (max observed
  event time minus the allowed delay) passes the window end;
* folds late-but-within-watermark rows into their proper window;
* drops rows later than the watermark — the streaming analogue of the
  reference's "data older than the recovery window is gone" stance.

Scale notes: the windowed aggregate is a streaming state-store
operator; state size is O(open windows × group cardinality), bounded
by the watermark horizon — late data can only reopen windows inside
the delay, so state never grows with stream length. The parquet sink's
``_spark_metadata`` commit log makes replays idempotent (only
committed files are visible to readers), the same idempotency design
as operators/copy.py; driver and sink are streaming/base.py's
ParquetSinkStream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syncflux_spark.streaming.base import ParquetSinkStream


class WindowedRollupStream(ParquetSinkStream):
    """Continuous hourly rollup of an events-shaped file stream:
    tumbling ``window_duration`` windows per ``group_cols``, counting
    rows and summing ``value_col`` in integer micro-units (exact, so
    a batch oracle over the same rows matches hash-for-hash).

    Output schema: ``bucket_s`` (window-start epoch seconds, long),
    ``*group_cols``, ``n_rows`` (long), ``sum_value_micro`` (long).
    Append mode: only windows the watermark has passed are emitted;
    a ``run_available()`` after new data arrives flushes more.
    """

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_path: str,
        *,
        window_duration: str = "1 hour",
        watermark_delay: str = "10 minutes",
        group_cols: tuple[str, ...] = ("event_type",),
        value_col: str = "value",
        time_col: str = "ts",
        time_is_ns: bool | None = None,
        path_glob_filter: str | None = None,
        max_files_per_trigger: int | None = None,
        state_partitions: int | None = None,
        state_backend: str | None = None,
    ):
        super().__init__(
            spark, src_path, dst_path, checkpoint_path,
            path_glob_filter=path_glob_filter,
            max_files_per_trigger=max_files_per_trigger,
            state_partitions=state_partitions,
            state_backend=state_backend,
        )
        self.window_duration = window_duration
        self.watermark_delay = watermark_delay
        self.group_cols = tuple(group_cols)
        self.value_col = value_col
        self.time_col = time_col
        #: physical time representation: ns parquet scans the column
        #: as an epoch long (nanosAsLong conf) we re-derive µs from;
        #: µs parquet arrives as TimestampType directly. None = detect
        #: from the scanned dtype (sources/parquet.py is the batch
        #: twin of this handling).
        self.time_is_ns = time_is_ns

    def _transform(self, df: DataFrame) -> DataFrame:
        evt = self._event_time(df, self.time_col, self.time_is_ns)
        win = F.window("_evt", self.window_duration)
        return (
            df.withColumn("_evt", evt)
            .withWatermark("_evt", self.watermark_delay)
            .groupBy(win.alias("_w"), *self.group_cols)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.round(F.col(self.value_col) * 1_000_000).cast("long")).alias(
                    "sum_value_micro"
                ),
            )
            .select(
                F.unix_timestamp("_w.start").cast("long").alias("bucket_s"),
                *self.group_cols,
                "n_rows",
                "sum_value_micro",
            )
        )

    def read_rollup(self) -> DataFrame:
        """Windows emitted so far (the parquet sink's commit log hides
        uncommitted files, so this is always a consistent snapshot)."""
        return self.spark.read.parquet(self.dst_path)


class SessionWindowStream(WindowedRollupStream):
    """Continuous gap-based sessionization: ``F.session_window`` merges
    a user's events whose inter-arrival gap is under ``session_gap``
    into one growing window; the state store extends/merges open
    sessions as events arrive and emits a session once the watermark
    passes its close (last event + gap). This is the streaming twin of
    the batch operator (operators/downsample.py::sessionize) — same
    session boundaries, verified against the same oracle.

    Output: ``user_id``, ``start_us``, ``end_us`` (last-event time —
    Spark's session end is last+gap, subtracted back out so the batch
    oracle's MAX(ts) matches exactly), ``n_events``.

    Scale: session state is per open session per user, evicted at
    watermark close — O(active users × open sessions), not O(stream);
    sharded by the grouping key like every stateful operator here.
    """

    def __init__(self, *args, session_gap_us: int = 1_800_000_000, **kwargs):
        super().__init__(*args, **kwargs)
        self._gap_us = session_gap_us
        self.session_gap = f"{session_gap_us // 1_000_000} seconds"

    def _transform(self, df: DataFrame) -> DataFrame:
        evt = self._event_time(df, self.time_col, self.time_is_ns)
        return (
            df.withColumn("_evt", evt)
            .withWatermark("_evt", self.watermark_delay)
            .groupBy(
                F.session_window("_evt", self.session_gap).alias("_w"),
                *self.group_cols,
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                *self.group_cols,
                F.unix_micros("_w.start").alias("start_us"),
                (F.unix_micros("_w.end") - F.lit(self._gap_us)).alias("end_us"),
                "n_events",
            )
        )
