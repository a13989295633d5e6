"""Streaming session CLOSER: gap sessions finalized by event-time
watermark, with per-key event-time timeouts.

The windowed module's ``SessionRollupStream`` re-emits a session's
running summary every time it grows (update semantics — the sink keeps
the newest row per session). This operator is the other contract a
pipeline wants: emit each session EXACTLY ONCE, only when it is
provably finished — i.e. when the event-time watermark passes
``session_end + gap``, so no event that could still arrive (watermark
guarantee: nothing older than the watermark) can extend or merge it.
Closed sessions are immutable facts; the output is append-only and
feeds billing/attribution jobs that must never see a session twice.

Semantics are EXACTLY batch gaps-and-islands (``ts_sessionize``):
events within ``gap`` of each other chain into one session, a strictly
larger gap starts a new one. Because sessions close in time order per
key (an island can only close after every earlier island closed), the
running per-user session counter in state reproduces the batch
``SUM(new_session) OVER (ORDER BY ts)`` numbering — so the streamed
output is value-hash comparable to the batch SQL, which is the oracle
gate (`stream_session_close`).

Timers: the per-key EVENT-TIME timeout (``GroupStateTimeout.
EventTimeTimeout``) re-invokes the function for a key when the
watermark passes the registered timestamp even if no new data for that
key arrives — without it, a key whose user went quiet would hold its
last session in state forever (the closing logic would only run on the
key's next event, which may never come).

Two state contracts, chosen by ``numbering``:

- ``numbering=True`` (default): per-user running session ids,
  value-hash equal to the batch SQL. The explicit price is that a
  fully-drained key keeps one (empty array, counter) row in the store
  forever — batch-identical numbering needs the count of every session
  that ever closed, so store size grows O(1) per user ever seen.
- ``numbering=False`` (facts-only): sessions are identified by
  ``(key, start_us)`` — already unique, since a key's islands are
  disjoint — no counter exists, and a key whose buffer drains is
  REMOVED from the store entirely. Store size is O(keys with an open
  island inside the watermark horizon), the shape a 100 TB pipeline
  that doesn't need numbering parity runs. Correctness is unchanged:
  a removed key that later receives events restarts cleanly, because
  any post-removal event is ≥ watermark > closed_end + gap, which by
  the gap rule would have started a new island anyway.

Scale: the EVENT buffer per key holds OPEN islands only — bounded by
the watermark horizon (an island older than ``gap`` behind the
watermark closes and leaves the buffer), not by history. The one
shuffle is the keyed state exchange every stateful stream pays; shard
count and RocksDB backend ride the same dials as the rest of this
package (`utils.streaming_state`, measured in SCALE.md).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from syncflux_spark.streaming.base import CheckpointedFileStream

#: key-typed schemas are built per-run from the source schema (the key
#: column keeps its input type — long, string, …); these module-level
#: forms document the shape and serve the long-keyed default.
SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
SESSION_STATE = T.StructType(
    [
        T.StructField("buf_us", T.ArrayType(T.LongType())),
        T.StructField("next_sid", T.LongType()),
    ]
)
#: facts-only state carries no counter — a drained key is removed.
SESSION_STATE_FACTS = T.StructType(
    [T.StructField("buf_us", T.ArrayType(T.LongType()))]
)


def _close_islands(
    buf: list[int], gap_us: int, w_us: int
) -> tuple[list[tuple[int, int, int]], list[int]]:
    """Split the sorted event buffer into closed islands and the open
    remainder. The watermark guarantees no future row is OLDER than
    it; a row AT the watermark may still arrive, so an island [s, e]
    is finished only when e + gap < watermark (strict). Islands close
    strictly in time order."""
    closed: list[tuple[int, int, int]] = []
    i, n = 0, len(buf)
    while i < n:
        j = i
        while j + 1 < n and buf[j + 1] - buf[j] <= gap_us:
            j += 1
        if buf[j] + gap_us < w_us:
            closed.append((buf[i], buf[j], j - i + 1))
            i = j + 1
        else:
            break
    return closed, buf[i:]


def _arm_timer(rest: list[int], gap_us: int, state: GroupState) -> None:
    """Wake this key when its earliest open island COULD close, even
    if the user never sends another event."""
    j = 0
    while j + 1 < len(rest) and rest[j + 1] - rest[j] <= gap_us:
        j += 1
    close_ms = (rest[j] + gap_us) // 1000 + 1
    state.setTimeoutTimestamp(max(close_ms, state.getCurrentWatermarkMs() + 1))


def _session_fn_factory(gap_us: int, key_name: str):
    def _fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf, sid = (
            (list(state.get[0]), int(state.get[1]))
            if state.exists
            else ([], 1)
        )
        for pdf in pdfs:
            buf.extend(int(x) for x in pdf["us"])
        buf.sort()
        w_us = state.getCurrentWatermarkMs() * 1000
        closed, rest = _close_islands(buf, gap_us, w_us)
        out = [
            (key[0], sid + k, s, e, c) for k, (s, e, c) in enumerate(closed)
        ]
        state.update((rest, sid + len(closed)))
        if rest:
            _arm_timer(rest, gap_us, state)
        if out:
            yield pd.DataFrame(
                out,
                columns=[key_name, "session_id", "start_us", "end_us", "n_events"],
            )

    return _fn


def _session_facts_fn_factory(gap_us: int, key_name: str):
    """Facts-only kernel: no counter, drained keys leave the store."""

    def _fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            buf.extend(int(x) for x in pdf["us"])
        buf.sort()
        w_us = state.getCurrentWatermarkMs() * 1000
        closed, rest = _close_islands(buf, gap_us, w_us)
        if rest:
            state.update((rest,))
            _arm_timer(rest, gap_us, state)
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(
                [(key[0], s, e, c) for s, e, c in closed],
                columns=[key_name, "start_us", "end_us", "n_events"],
            )

    return _fn


class StreamingSessionCloser(CheckpointedFileStream):
    """Exactly-once gap-session emission over a keyed event stream:
    append-only closed sessions, watermark-proven final. With
    ``numbering=True`` (default) the output equals the batch
    gaps-and-islands numbering; with ``numbering=False`` sessions are
    facts keyed by (key, start_us) and drained keys are dropped from
    the store (see module docstring for the state-size contract).
    Driver and batch-keyed sink are the CheckpointedFileStream base's;
    the sink union-reads (closed sessions are append-only facts, no
    newest-wins resolution needed)."""

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_path: str,
        key_col: str = "user_id",
        time_col: str = "ts",
        gap_us: int = 1_800_000_000,
        watermark_delay: str = "0 seconds",
        path_glob_filter: str | None = None,
        max_files_per_trigger: int | None = None,
        state_partitions: int | None = None,
        state_backend: str | None = None,
        numbering: bool = True,
    ):
        super().__init__(
            spark, src_path, dst_path, checkpoint_path,
            path_glob_filter=path_glob_filter,
            max_files_per_trigger=max_files_per_trigger,
            state_partitions=state_partitions,
            state_backend=state_backend,
        )
        self.key_col = key_col
        self.time_col = time_col
        self.gap_us = gap_us
        self.watermark_delay = watermark_delay
        self.numbering = numbering
        self._key_type: T.DataType | None = None

    def _validated_key_type(self, schema: T.StructType) -> T.DataType:
        """Fail fast with a clear message instead of the opaque
        Arrow/analysis error a bad key/time type produces deep inside
        applyInPandasWithState (ADVICE r9)."""
        names = set(schema.fieldNames())
        for col in (self.key_col, self.time_col):
            if col not in names:
                raise TypeError(
                    f"StreamingSessionCloser: column {col!r} not in source "
                    f"schema {sorted(names)}"
                )
        tt = schema[self.time_col].dataType
        if not isinstance(tt, (T.TimestampType, T.TimestampNTZType)):
            raise TypeError(
                f"StreamingSessionCloser: time_col {self.time_col!r} must be "
                f"TimestampType for withWatermark/unix_micros, got "
                f"{tt.simpleString()} — normalize first (ns-long epochs: "
                "F.timestamp_micros(col div 1000), as streaming/stateful.py "
                "does)"
            )
        kt = schema[self.key_col].dataType
        if not isinstance(
            kt, (T.LongType, T.IntegerType, T.ShortType, T.StringType)
        ):
            raise TypeError(
                f"StreamingSessionCloser: key_col {self.key_col!r} must be "
                f"an integer or string type, got {kt.simpleString()}"
            )
        return kt

    def _schemas(self) -> tuple[T.StructType, T.StructType]:
        """(output, state) schemas with the key field typed from the
        source — a string-keyed stream emits a string key column."""
        key_field = T.StructField(self.key_col, self._key_type)
        tail = [
            T.StructField("start_us", T.LongType()),
            T.StructField("end_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
        if self.numbering:
            out = T.StructType(
                [key_field, T.StructField("session_id", T.LongType()), *tail]
            )
            return out, SESSION_STATE
        return T.StructType([key_field, *tail]), SESSION_STATE_FACTS

    def _transform(self, df: DataFrame) -> DataFrame:
        self._key_type = self._validated_key_type(df.schema)
        ev = df.withWatermark(self.time_col, self.watermark_delay).select(
            F.col(self.key_col),
            F.col(self.time_col),
            F.unix_micros(self.time_col).alias("us"),
        )
        out_schema, state_schema = self._schemas()
        fn = (
            _session_fn_factory(self.gap_us, self.key_col)
            if self.numbering
            else _session_facts_fn_factory(self.gap_us, self.key_col)
        )
        return ev.groupBy(self.key_col).applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )

    def closed_sessions(self) -> DataFrame:
        """All sessions closed so far (append-only union; per-batch
        overwrite directories make crash replays idempotent)."""
        cols = (
            [self.key_col, "session_id", "start_us", "end_us", "n_events"]
            if self.numbering
            else [self.key_col, "start_us", "end_us", "n_events"]
        )
        return self._read_batches().select(*cols)
