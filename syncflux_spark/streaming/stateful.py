"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no true streaming (SURVEY §2.6) — its stateful
surface is the HA supervisor's in-memory counters. This module is the
Spark-native generalization: per-key state that survives micro-batches
AND process restarts (checkpointed), expressed with the Arrow-batched
pandas state API — the pattern a 100 TB pipeline uses for
sessionization, rate tracking, and incremental per-series rollups on
live data.

Design: state is a single struct row per key; each micro-batch folds
its rows into the state and emits the UPDATED running summary for
keys seen in that batch (update semantics: the batch-keyed sink and
the newest-batch-wins read are streaming/base.py's). Arrow moves
batches, no row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from syncflux_spark.streaming.base import CheckpointedFileStream

#: running per-series totals: the stateful analog of ts_series_stats
TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_micro", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)
TOTALS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("sv", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _totals_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, sv, last_us = state.get if state.exists else (0, 0, 0)
    import numpy as np

    for pdf in pdfs:
        n += len(pdf)
        # exact integer micros (the cross-engine determinism rule).
        # floor(x + 0.5), not np.round: numpy rounds half-to-even,
        # SQL ROUND rounds half away from zero (values are positive)
        v = pdf["value"].astype(float).to_numpy() * 1_000_000
        sv += int(np.floor(v + 0.5).astype("int64").sum())
        # ts arrives as a ns-epoch long (nanosAsLong read of ns
        # parquet) or as datetime64 (µs parquet) — normalize to µs
        ts = pdf["ts"]
        if ts.dtype.kind == "M":  # datetime64[*]
            last_us = max(last_us, int(ts.max().value) // 1_000)
        else:
            last_us = max(last_us, int(ts.max()) // 1_000)
    state.update((n, sv, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value_micro": [sv],
            "last_ts_us": [last_us],
        }
    )


class StatefulUserTotals(CheckpointedFileStream):
    """Checkpointed running per-user totals over an event stream.

    Each ``run_available()`` processes the files that appeared since
    the last run; per-user state (count, value sum, last timestamp)
    persists in the state store across runs — restart-safe incremental
    aggregation, the applyInPandasWithState replacement for the
    reference's in-memory supervisor counters (hacluster.go:46-56).
    """

    output_mode = "update"

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_path: str,
        path_glob_filter: str | None = None,
        state_partitions: int | None = None,
        state_backend: str | None = None,
    ):
        super().__init__(
            spark, src_path, dst_path, checkpoint_path,
            path_glob_filter=path_glob_filter,
            state_partitions=state_partitions,
            state_backend=state_backend,
        )

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").applyInPandasWithState(
            _totals_fn, TOTALS_OUTPUT, TOTALS_STATE, "update",
            GroupStateTimeout.NoTimeout,
        )

    def current_totals(self) -> DataFrame:
        """Latest summary per user across all emitted batches (update
        sink semantics: newest batch wins per key)."""
        return self._latest_per_key(
            ["user_id"], ["n_events", "sum_value_micro", "last_ts_us"]
        )


#: streaming KMV distinct sketch: per-type bottom-64 hash state
KMV_OUTPUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_sample", T.LongType()),
        T.StructField("kth_hash", T.LongType()),
        T.StructField("est_distinct", T.DoubleType()),
    ]
)
KMV_STATE = T.StructType(
    [T.StructField("hashes", T.ArrayType(T.LongType()))]
)

KMV_K = 64
#: 63·2^48 — the (k−1)/frac(kth) estimator numerator, exactly
#: representable (matches queries.py::kmv_distinct_users)
_KMV_NUM = 17732923532771328.0


def _kmv_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold a micro-batch into the bottom-64 KMV sketch. Pruning to
    the k smallest per batch is lossless: bottom-k is a mergeable
    summary — bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ B) — which is
    exactly why the streamed sketch must equal the batch-computed
    oracle bit-for-bit, duplicates and re-deliveries included."""
    import hashlib

    hs = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        for uid in pdf["user_id"].astype("int64").unique():
            # identical to F.md5(cast(user_id as string))[:12] as int48
            h = int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16)
            hs.add(h)
    bottom = sorted(hs)[:KMV_K]
    state.update((bottom,))
    n = len(bottom)
    kth = bottom[-1] if bottom else 0
    est = float(n) if (n < KMV_K or kth == 0) else _KMV_NUM / float(kth)
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_sample": [n],
            "kth_hash": [kth],
            "est_distinct": [est],
        }
    )


class StreamingKmvSketch(CheckpointedFileStream):
    """Checkpointed streaming distinct-count sketch per event type:
    the unbounded-cardinality companion to StatefulUserTotals — state
    is O(k) per key no matter how many distinct users flow through,
    the property that makes the sketch the RIGHT streaming answer at
    100 TB (exact streaming distinct needs unbounded state). Driver,
    batch-keyed sink and newest-batch-wins read are the
    CheckpointedFileStream base's."""

    output_mode = "update"

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").applyInPandasWithState(
            _kmv_fn, KMV_OUTPUT, KMV_STATE, "update",
            GroupStateTimeout.NoTimeout,
        )

    def current_sketches(self) -> DataFrame:
        return self._latest_per_key(
            ["event_type"], ["n_sample", "kth_hash", "est_distinct"]
        )


# -- streaming quantile sketch ----------------------------------------------

QSK_OUTPUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_sample", T.LongType()),
        T.StructField("p50", T.DoubleType()),
        T.StructField("p90", T.DoubleType()),
        T.StructField("p99", T.DoubleType()),
    ]
)
QSK_STATE = T.StructType(
    [
        T.StructField("hashes", T.ArrayType(T.LongType())),
        T.StructField("values", T.ArrayType(T.DoubleType())),
    ]
)

QSK_STREAM_K = 256


def _qsk_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold a micro-batch into the bottom-k priority sample (the
    quantile sketch of operators/sketches.py). The state is a SET of
    (priority, value) pairs truncated to the k smallest — mergeable
    and duplicate-insensitive, so re-delivered rows change nothing
    and the streamed sketch equals the batch-computed oracle
    bit-for-bit, including the quantile estimates read off it."""
    import hashlib
    import math

    if state.exists:
        hs0, vs0 = state.get
        pairs = set(zip(hs0, vs0))
    else:
        pairs = set()
    for pdf in pdfs:
        for eid, val in zip(
            pdf["event_id"].astype("int64"), pdf["value"].astype("float64")
        ):
            h = int(hashlib.md5(str(eid).encode()).hexdigest()[:12], 16)
            pairs.add((h, float(val)))
    bottom = sorted(pairs)[:QSK_STREAM_K]
    state.update(([h for h, _ in bottom], [v for _, v in bottom]))
    n = len(bottom)
    vs = sorted(v for _, v in bottom)

    def q(p: float) -> float:
        return vs[max(1, math.ceil(p * n)) - 1] if n else 0.0

    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_sample": [n],
            "p50": [q(0.5)],
            "p90": [q(0.9)],
            "p99": [q(0.99)],
        }
    )


class StreamingQuantileSketch(CheckpointedFileStream):
    """Checkpointed streaming percentile monitor per event type: the
    quantile companion to StreamingKmvSketch — O(k) state per key no
    matter how many rows flow through, and because the bottom-k
    priority sample is a mergeable, duplicate-insensitive summary,
    the streamed p50/p90/p99 equal the batch sketch's exactly (the
    oracle checks the estimates themselves, not just plumbing).
    Driver, batch-keyed sink and newest-batch-wins read are the
    CheckpointedFileStream base's."""

    output_mode = "update"

    def _transform(self, df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").applyInPandasWithState(
            _qsk_fn, QSK_OUTPUT, QSK_STATE, "update",
            GroupStateTimeout.NoTimeout,
        )

    def current_sketches(self) -> DataFrame:
        return self._latest_per_key(["event_type"], ["n_sample", "p50", "p90", "p99"])
