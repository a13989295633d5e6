"""Watermarked stream-stream interval join (click attribution).

The reference replicates streams point-for-point; it never correlates
two of them. A Spark-first continuous engine gets the general
mechanism: two event streams joined on a key plus an event-time range
— here every `purchase` matched to the same user's `click`s in the
trailing hour, the classic attribution join.

Mechanics (Structured Streaming stream-stream inner join):

* Both sides carry a watermark and the join condition bounds event
  time on both sides (`c.ts BETWEEN p.ts - 1h AND p.ts`), so the
  state store can evict: a buffered click is droppable once the
  watermark says no future purchase can reach back to it, and vice
  versa. State is O(events inside the watermark horizon), not O(stream).
* Inner-join output emits as soon as both sides of a match have
  arrived — no watermark wait (that's only for outer-join nulls), so
  a single availableNow pass over a static source emits every pair.
* State is sharded by the equality key (user_id): the same hash
  partitioning that scales the batch join scales the state store.

The parquet sink's commit log makes replays idempotent; driver and
sink are streaming/base.py's ParquetSinkStream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syncflux_spark.streaming.base import ParquetSinkStream


class ClickAttributionStream(ParquetSinkStream):
    """Join a purchases stream to the same user's clicks in the
    trailing ``attribution_window``; emit (user_id, purchase_us,
    click_us) pairs in exact epoch-µs longs."""

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_path: str,
        *,
        attribution_window: str = "1 hour",
        watermark_delay: str = "1 hour",
        time_col: str = "ts",
        time_is_ns: bool | None = None,
        join_type: str = "inner",
        max_files_per_trigger: int | None = None,
        state_partitions: int | None = None,
        state_backend: str | None = None,
    ):
        if join_type not in ("inner", "left_outer"):
            raise ValueError(
                f"join_type must be inner or left_outer, got {join_type!r}"
            )
        #: state_partitions: join state keeps FOUR stores per shard
        #: (keyToNumValues/keyWithIndex × two sides), so this query
        #: class over-shards hardest of all — measured 5× wall-clock
        #: at 4 vs 32 shards on the sf0.1 outer join; with
        #: state_backend='rocksdb' they move off the heap.
        super().__init__(
            spark, src_path, dst_path, checkpoint_path,
            max_files_per_trigger=max_files_per_trigger,
            state_partitions=state_partitions,
            state_backend=state_backend,
        )
        self.attribution_window = attribution_window
        self.watermark_delay = watermark_delay
        self.time_col = time_col
        self.time_is_ns = time_is_ns
        #: "left_outer" additionally emits every UNMATCHED purchase
        #: (click_us NULL) once the watermark proves no click can
        #: still arrive inside its window — the abandoned-purchase /
        #: organic-conversion feed. Outer-null emission is
        #: watermark-driven: rows flush in the batch AFTER the
        #: watermark passes their window, so a drained source needs a
        #: watermark-advancing flush batch (see emit_flush_sentinel).
        self.join_type = join_type

    def _side(self, event_type: str, alias: str) -> DataFrame:
        df = self._reader()
        evt = self._event_time(df, self.time_col, self.time_is_ns)
        return (
            df.where(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user_id"),
                evt.alias(f"{alias}_evt"),
            )
            .withWatermark(f"{alias}_evt", self.watermark_delay)
        )

    def _stream(self) -> DataFrame:
        p = self._side("purchase", "p")
        c = self._side("click", "c")
        cond = (
            (F.col("p_user_id") == F.col("c_user_id"))
            & (F.col("c_evt") >= F.expr(f"p_evt - INTERVAL {self.attribution_window}"))
            & (F.col("c_evt") <= F.col("p_evt"))
        )
        return p.join(c, cond, self.join_type).select(
            F.col("p_user_id").alias("user_id"),
            F.unix_micros("p_evt").alias("purchase_us"),
            F.unix_micros("c_evt").alias("click_us"),
        )

    def emit_flush_sentinel(self, when: str = "2030-01-01 00:00:00") -> None:
        """Append one sentinel file (a far-future click + purchase for
        user −1) to the source so the NEXT batches advance both sides'
        watermarks past every real event — the outer join's pending
        unmatched rows then flush. Two sentinel files (or a later
        second call) are needed for a drained availableNow source:
        the batch reading sentinel N advances the max event time, and
        the batch reading sentinel N+1 runs with the advanced
        watermark and performs the eviction/emission. Sentinel rows
        are user −1, so downstream filters drop them trivially."""
        import os
        import time as _time
        import uuid as _uuid

        base = self._batch_source().limit(1)
        is_ns = base.schema[self.time_col].dataType.simpleString() == "bigint"
        far = (
            F.lit(1_893_456_000_000_000_000)  # 2030-01-01 in ns
            if is_ns
            else F.to_timestamp(F.lit(when))
        )
        sent = base.select(
            *[
                F.lit(-1).cast("long").alias(c)
                if c in ("event_id", "user_id")
                else far.alias(c)
                if c == self.time_col
                else F.col(c)
                for c in base.columns
            ]
        )
        both = sent.withColumn("event_type", F.lit("click")).unionByName(
            sent.withColumn("event_type", F.lit("purchase"))
        )
        import glob as _glob
        import shutil as _shutil
        import tempfile as _tempfile

        stage = _tempfile.mkdtemp(prefix="sf_sentinel_")
        both.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        # the stream source lists FILES directly under src_path — move
        # the part file in flat; mtime (now) orders it after existing
        # data, which is what keeps the watermark monotone
        _shutil.move(
            part,
            os.path.join(
                self.src_path, f"zz-sentinel-{_uuid.uuid4().hex}.parquet"
            ),
        )
        _shutil.rmtree(stage, ignore_errors=True)
        _time.sleep(0.01)

    def read_pairs(self) -> DataFrame:
        return self.spark.read.parquet(self.dst_path)
