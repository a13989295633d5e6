"""Streaming deduplication: exactly-once keys across micro-batches.

The replication path (streaming/replicate.py) makes *delivery*
exactly-once via checkpoint + idempotent per-batch sinks; this stage
makes the *data* exactly-once when the upstream itself repeats rows —
re-sent line-protocol batches, at-least-once collectors, overlapping
backfills (the reference's recovery re-copies whole chunks and relies
on InfluxDB point overwrite to absorb the repeats,
pkg/agent/actions.go:291-309; a parquet sink has no overwrite-by-key,
so the stream must drop the repeats before they land).

Spark-first: ``withWatermark`` + ``dropDuplicatesWithinWatermark`` is
the whole operator. The dedup horizon bounds the key state — state
size is O(keys inside the horizon), not O(keys ever seen) — which is
what makes this run forever on a 1000-executor cluster: state lives in
the per-partition state store (RocksDB at scale), keyed by the dedup
columns, evicted as the watermark passes. A duplicate arriving later
than the horizon is by contract not detected — size the horizon to the
upstream's maximum re-delivery lag, not to "forever".
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from syncflux_spark.streaming.replicate import ReplicationStream


class DedupReplicationStream(ReplicationStream):
    """Replication with at-least-once → exactly-once key semantics:
    duplicates of ``key_cols`` arriving within ``horizon`` of each
    other (event time, ns long column) are dropped — across
    micro-batches, surviving restarts via the checkpointed state
    store."""

    def __init__(
        self,
        *args,
        key_cols: tuple[str, ...] = ("event_id",),
        time_ns_col: str = "ts",
        horizon: str = "90 days",
        **kwargs,
    ):
        super().__init__(*args, **kwargs)
        self.key_cols = key_cols
        self.time_ns_col = time_ns_col
        self.horizon = horizon

    def _transform(self, df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__event_time", self._event_time(df, self.time_ns_col))
            .withWatermark("__event_time", self.horizon)
            .dropDuplicatesWithinWatermark(list(self.key_cols))
            .drop("__event_time")
        )
