"""Streaming near-duplicate LSH index: incremental MinHash banding.

The reference has no streaming and no near-dup surface (SURVEY §2.6 —
its stateful layer is the HA supervisor's in-memory counters); this is
the Spark-native operator a live training-data ingestion pipeline
needs: as documents arrive, maintain an LSH index incrementally so
each bucket knows its canonical representative, without ever
re-scanning the corpus.

Semantics — chosen so the streamed answer is PROVABLY the batch
answer: per LSH band bucket the state is the MINIMUM document id ever
seen (the bucket's canonical representative). ``min`` is idempotent,
commutative and associative, i.e. duplicate-delivery-insensitive and
delivery-ORDER-insensitive — so after any micro-batch schedule,
including re-deliveries, the index equals what a single batch job
would compute. That is the same design rule as the streaming KMV
sketch (stateful.py): pick a mergeable, duplicate-insensitive summary
and the full value-hash oracle gate applies to the stream.
("First-seen wins" — the tempting alternative — depends on arrival
order and can't be oracle-checked; "min wins" can.)

The dedup decision answered by the index: ``canonical_id(doc) =``
min over the doc's bands of the bucket minimum — *is there a smaller-id
document that shares at least one band with mine?* This is the one-hop
canonical, NOT the transitive closure (the batch
``connected_components`` operator computes that over the full pair
graph); one hop is what an ingestion-time filter wants, because it is
O(1) state per bucket and O(bands) lookups per document.

Scale: state is one (bucket, min) entry per non-empty band bucket —
bounded by the number of DISTINCT band keys, not by corpus size, and
far smaller than the dedup-horizon key state of exact streaming dedup.
Buckets are hashed into ``n_shards`` state-store groups (xxhash64 on
the high-entropy md5-derived bucket key, so shards balance); each
micro-batch shuffles only its own band rows, and each shard merges its
batch vectorized (pandas groupby + dict update) — one Python
invocation per SHARD per batch instead of one per bucket, which is
what applyInPandasWithState would otherwise pay (measured: the
per-bucket layout spent its wall on dispatch, SCALE.md). At 100 TB the
state store is RocksDB (``state_backend='rocksdb'``, measured in
SCALE.md), ``n_shards`` is sized ONCE at index creation with
:func:`shards_for_buckets` (the r10 A/B replaced the old "grows with
the bucket count" hand rule with a measured one — see the helper's
docstring and SCALE.md), and the index keeps running forever; a batch
rebuild is one groupBy if the store is lost.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from syncflux_spark.operators.dedup import band_keys
from syncflux_spark.streaming.base import CheckpointedFileStream

BANDMIN_OUTPUT = T.StructType(
    [
        T.StructField("band_id", T.IntegerType()),
        T.StructField("band_key", T.StringType()),
        T.StructField("min_doc_id", T.LongType()),
    ]
)
#: persist_bands=True widens the kernel output with the raw band rows
#: of each batch (doc_id set, min_doc_id null) next to the bucket
#: updates (doc_id null): the band rows were ALREADY computed and
#: Arrow-shipped into the kernel for the state fold, so emitting them
#: back and parquet-ing them per batch costs one narrow write — and
#: saves decisions() a full md5/banding re-scan of the corpus (the
#: largest constant in the registered query's wall, measured in
#: SCALE.md r11).
BANDMIN_OUTPUT_WITH_BANDS = T.StructType(
    list(BANDMIN_OUTPUT.fields) + [T.StructField("doc_id", T.LongType())]
)
#: Per SHARD of buckets (not per bucket): three parallel arrays forming
#: the shard's bucket → min map. Keying the state store per bucket
#: would be the classic point-update layout, but applyInPandasWithState
#: pays one PYTHON invocation per key per batch — with tens of
#: thousands of near-singleton band buckets that dispatch dominated the
#: wall (measured 23.2s → see SCALE.md after sharding). Hashing buckets
#: into ``n_shards`` groups amortizes the dispatch; inside a shard the
#: merge is a vectorized pandas groupby + dict update. min-wins
#: semantics are unchanged — a bucket's min is the same wherever it
#: lives.
BANDMIN_STATE = T.StructType(
    [
        T.StructField("band_ids", T.ArrayType(T.IntegerType())),
        T.StructField("band_keys", T.ArrayType(T.StringType())),
        T.StructField("mins", T.ArrayType(T.LongType())),
    ]
)


def shards_for_buckets(
    parallelism: int, n_buckets: int, target_per_shard: int = 1024
) -> int:
    """Size the ``n_shards`` dial from the expected distinct band
    bucket count (≈ ``n_bands × expected corpus size``; band_keys's
    default is 2 bands/doc, and dup-heavy corpora land below that).

    Calibrated by ``tools/measure_lsh_shards.py`` on the x1/x10/x30
    corpora (7.1k/41k/84k buckets, 32 cores — SCALE.md r10):

    - FLOOR = 2 × parallelism. The state-merge stage runs one task
      per touched shard; below ~cores the stage underfills the
      machine (x1: 16 shards = 11.9s bulk vs 64 shards = 7.1s, a 67%
      penalty purely from idle cores).
    - CAP = 8 shards per core. Past it, per-shard Python dispatch
      re-dominates: 1024 shards at x30 cost +7.5% over 64 on the
      bulk shape (~9 ms per dispatch per batch), bought nothing —
      the full-map Arrow rewrite the shard count is meant to bound
      was NOT measurable at ≤x30 (the 1% tail batch timed 1.6-2.5s
      at every dial, all stream-startup fixed cost; state was only
      5.5 MB at x30).
    - Between the clamps, one shard per ``target_per_shard`` buckets
      keeps the per-shard map (and its per-batch rewrite, the term
      that DOES grow with corpus lifetime) around a thousand entries
      — the winner band 64 ≈ 84k/1024 at x30.

    The result is baked into the stream's state keys, so choose it
    ONCE per checkpoint: changing ``n_shards`` against an existing
    checkpoint would orphan every bucket's state (min-wins would
    silently restart, not corrupt — but the index would forget).
    """
    if n_buckets < 0:
        raise ValueError(f"n_buckets must be >= 0, got {n_buckets}")
    floor = 2 * parallelism
    cap = 8 * parallelism
    return max(floor, min(cap, max(1, n_buckets // target_per_shard)))


def _bandmin_factory(id_col: str, emit_bands: bool = False):
    def _bandmin_fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bids, bkeys, mins = state.get
            cur = {
                (int(b), k): int(m) for b, k, m in zip(bids, bkeys, mins)
            }
        else:
            cur = {}
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:  # defensive: an all-empty Arrow chunk stream
            return  # existing state (if any) persists untouched
        pdf = pd.concat(batches) if len(batches) > 1 else batches[0]
        batch_min = pdf.groupby(["band_id", "band_key"], sort=False)[
            id_col
        ].min()
        out_b, out_k, out_m = [], [], []
        for (bid, bk), m in batch_min.items():
            bid, m = int(bid), int(m)
            old = cur.get((bid, bk))
            new = m if old is None or m < old else old
            cur[(bid, bk)] = new
            out_b.append(bid)
            out_k.append(bk)
            out_m.append(new)
        state.update(
            (
                [b for b, _ in cur],
                [k for _, k in cur],
                list(cur.values()),
            )
        )
        # emit only the buckets this batch touched (update semantics;
        # the sink resolves newest-wins per bucket)
        bucket_frame = pd.DataFrame(
            {"band_id": out_b, "band_key": out_k, "min_doc_id": out_m}
        )
        if not emit_bands:
            yield bucket_frame
            return
        bucket_frame["doc_id"] = pd.array(
            [None] * len(bucket_frame), dtype="Int64"
        )
        yield bucket_frame
        # the batch's raw band rows, tagged by a null min_doc_id —
        # write_batch splits them off to the bands sink
        yield pd.DataFrame(
            {
                "band_id": pdf["band_id"].astype("int32"),
                "band_key": pdf["band_key"],
                "min_doc_id": pd.array([None] * len(pdf), dtype="Int64"),
                "doc_id": pdf[id_col].astype("int64"),
            }
        )

    return _bandmin_fn


class StreamingLshIndex(CheckpointedFileStream):
    """Checkpointed incremental LSH band index over a document stream:
    per-bucket canonical-minimum state maintained across micro-batches
    and restarts, equal by construction to the batch-computed index.
    Driver and newest-batch-wins read are the CheckpointedFileStream
    base's; with ``persist_bands`` the sink also writes each batch's
    raw band rows to ``bands_path``."""

    output_mode = "update"

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_shards: int | None = None,
        path_glob_filter: str | None = None,
        max_files_per_trigger: int | None = None,
        state_partitions: int | None = None,
        state_backend: str | None = None,
        persist_bands: bool = False,
        bands_path: str | None = None,
    ):
        if n_shards is not None and n_shards < 1:
            raise ValueError(f"n_shards must be >= 1, got {n_shards}")
        super().__init__(
            spark, src_path, dst_path, checkpoint_path,
            path_glob_filter=path_glob_filter,
            max_files_per_trigger=max_files_per_trigger,
            state_partitions=state_partitions,
            state_backend=state_backend,
        )
        self.id_col = id_col
        self.text_col = text_col
        # Python invocations per batch == shards touched; per-shard
        # state == buckets/n_shards map entries moved through Arrow.
        # The dial is baked into the stream's state keys, so it is
        # sized ONCE per checkpoint: n_shards=None (the default since
        # r11) resolves at first run — adopt the checkpoint's marker
        # if one exists, else derive from the measured rule
        # shards_for_buckets (one batch count of the source directory
        # estimates the expected bucket count at <= 2 bands/doc) —
        # instead of baking THIS container's hand tuning into the
        # constructor (VERDICT r10 #4). The choice is persisted in a
        # checkpoint marker and a mismatched explicit restart fails
        # loudly (ADVICE r10), so a grown corpus or different machine
        # can never silently orphan every bucket's state.
        self.n_shards = n_shards
        self.persist_bands = persist_bands
        self.bands_path = bands_path or f"{dst_path}_bands"

    _SHARDS_MARKER = "SYNCFLUX_N_SHARDS"
    _BANDS_MARKER = "SYNCFLUX_BANDS_SINCE"

    def _marker_path(self, name: str) -> str:
        # the checkpoint may live on any Hadoop filesystem (hdfs://,
        # s3a://, dbfs:/ — Spark accepts them all for
        # checkpointLocation), so markers resolve through the Hadoop
        # FS API, never driver-local os.path (ADVICE r11: a local-only
        # exists() misses every remote marker, silently re-derives
        # n_shards from the grown corpus, and orphans all bucket
        # state — the exact failure the marker prevents)
        return self.checkpoint_path.rstrip("/") + "/" + name

    def _resolve_n_shards(self) -> int:
        """n_shards is baked into the state-store keys: restarting an
        existing checkpoint with a different value would silently
        reshard every bucket into an empty group (min-wins would
        restart, not corrupt — but the index would FORGET). Resolution
        order: the checkpoint's marker wins for n_shards=None (a
        restart must never re-derive from a grown corpus); an explicit
        value must MATCH an existing marker or fail; a first run
        derives (if None), then persists the marker. The marker lives
        on the checkpoint's OWN filesystem (utils.checkpoint_marker_*)."""
        from syncflux_spark.utils import (
            checkpoint_marker_read,
            checkpoint_marker_write,
        )

        marker = self._marker_path(self._SHARDS_MARKER)
        raw = checkpoint_marker_read(self.spark, marker)
        if raw is not None:
            stored = int(raw.strip())
            if self.n_shards is not None and stored != self.n_shards:
                raise ValueError(
                    f"checkpoint at {self.checkpoint_path} was built with "
                    f"n_shards={stored}, got {self.n_shards}: resharding an "
                    "existing checkpoint orphans all bucket state. Pass "
                    f"n_shards={stored}, n_shards=None (adopts the marker), "
                    "or a fresh checkpoint dir."
                )
            return stored
        n = self.n_shards
        if n is None:
            n_docs = self._batch_source().count()
            n = shards_for_buckets(
                self.spark.sparkContext.defaultParallelism, 2 * n_docs
            )
        checkpoint_marker_write(self.spark, marker, str(n))
        return n

    def _resolve_bands_coverage(self) -> None:
        """Pin the bands sink's COVERAGE in a checkpoint marker, so
        :meth:`decisions_ingested`'s identity claim ("the persisted
        band rows are exactly band_keys(every delivered doc)") is
        checked, not assumed (ADVICE r11). The marker records that the
        sink has covered every batch since 0; it can only be written
        on a checkpoint with no prior commits. Two loud failures
        instead of silent subsets:

        * enabling ``persist_bands`` on a checkpoint that already
          ingested batches without it → the sink would cover only the
          newer batches;
        * DISABLING it on a checkpoint whose marker claims coverage →
          new batches would ingest without band rows, breaking the
          claim for every later probe."""
        from syncflux_spark.utils import (
            checkpoint_has_commits,
            checkpoint_marker_read,
            checkpoint_marker_write,
        )

        marker = self._marker_path(self._BANDS_MARKER)
        stored = checkpoint_marker_read(self.spark, marker)
        if self.persist_bands:
            if stored is not None:
                return
            if checkpoint_has_commits(self.spark, self.checkpoint_path):
                raise ValueError(
                    f"checkpoint at {self.checkpoint_path} already ingested "
                    "batches WITHOUT persist_bands: the bands sink would "
                    "cover only newer batches and decisions_ingested() "
                    "would silently decide a subset of the corpus. Rebuild "
                    "on a fresh checkpoint with persist_bands=True, or use "
                    "decisions() (full re-band) against this one."
                )
            checkpoint_marker_write(self.spark, marker, "0")
        elif stored is not None:
            raise ValueError(
                f"checkpoint at {self.checkpoint_path} persists band rows "
                "(coverage-from-batch-0 marker present); running with "
                "persist_bands=False would ingest batches without band "
                "rows and break decisions_ingested() for every later "
                "probe. Pass persist_bands=True."
            )

    def _stream(self) -> DataFrame:
        # n_shards and the bands coverage are pinned in checkpoint
        # markers before the stream starts
        n_shards = self._resolve_n_shards()
        self._resolve_bands_coverage()
        # band_keys is all narrow ops (shingle → md5 → array_min →
        # explode), so it composes onto the streaming reader unchanged
        # one file per trigger = ONE scan partition: without an
        # explicit spread the md5/shingle kernel runs single-core per
        # micro-batch (spread_for_cpu can't size a streaming plan —
        # no .rdd — so the operator spreads here, before the
        # CPU-heavy narrow stage)
        docs = self._reader().repartition(
            self.spark.sparkContext.defaultParallelism
        )
        bands = band_keys(
            docs, text_col=self.text_col, id_col=self.id_col
        ).withColumn(
            "_shard",
            F.pmod(
                F.xxhash64("band_id", "band_key"), F.lit(n_shards)
            ).cast("int"),
        )
        out_schema = (
            BANDMIN_OUTPUT_WITH_BANDS if self.persist_bands else BANDMIN_OUTPUT
        )
        return bands.groupBy("_shard").applyInPandasWithState(
            _bandmin_factory(self.id_col, emit_bands=self.persist_bands),
            out_schema,
            BANDMIN_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if not self.persist_bands:
            return super()._write_batch(batch_df, batch_id)
        # two sinks from one micro-batch: persist first so the
        # stateful plan (and its state updates) runs once, not once
        # per sink
        batch_df = batch_df.persist()
        try:
            super()._write_batch(
                batch_df.where(F.col("doc_id").isNull()).select(
                    "band_id", "band_key", "min_doc_id"
                ),
                batch_id,
            )
            super()._write_batch(
                batch_df.where(F.col("min_doc_id").isNull()).select(
                    F.col("doc_id").alias(self.id_col), "band_id", "band_key"
                ),
                batch_id,
                self.bands_path,
            )
        finally:
            batch_df.unpersist()

    def current_index(self) -> DataFrame:
        """The live index: newest emitted row per band bucket."""
        return self._latest_per_key(["band_id", "band_key"], ["min_doc_id"])

    def decisions(self, docs: DataFrame) -> DataFrame:
        """Per-document dedup decision against the live index:
        (id, canonical_id, is_dup) where canonical_id is the smallest
        id sharing at least one band. The probe side computes its band
        keys batch-side (narrow) and joins the index on the bucket key
        — at scale this is the same high-entropy shuffle the batch LSH
        self-join does, but against an O(buckets) index instead of the
        corpus. Inner-join semantics: a probe document NONE of whose
        buckets exist in the index (i.e. it was never ingested) gets
        no row — probe the stream's own corpus, or ingest first."""
        probe = band_keys(docs, text_col=self.text_col, id_col=self.id_col)
        return self._decide(probe)

    def ingested_bands(self) -> DataFrame:
        """The band rows persisted at ingest (persist_bands=True):
        (id, band_id, band_key), one row per band per DELIVERY — a
        re-delivered document appears once per delivery, which the
        min-aggregation in decisions is insensitive to."""
        if not self.persist_bands:
            raise ValueError(
                "ingested_bands requires persist_bands=True at ingest"
            )
        from syncflux_spark.utils import checkpoint_marker_read

        stored = checkpoint_marker_read(
            self.spark, self._marker_path(self._BANDS_MARKER)
        )
        if stored is None or stored.strip() != "0":
            raise ValueError(
                f"checkpoint at {self.checkpoint_path} has no "
                "coverage-from-batch-0 bands marker: the persisted band "
                "rows do not provably cover every ingested batch (the "
                "checkpoint predates the bands sink, or ingest never "
                "ran). Use decisions() against the full corpus, or "
                "rebuild on a fresh checkpoint with persist_bands=True."
            )
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            self.bands_path
        )

    def decisions_ingested(self) -> DataFrame:
        """decisions() for the stream's own corpus WITHOUT re-banding
        it: the probe side reads the (id, band) rows persisted as a
        by-product of ingestion instead of recomputing the
        shingle→md5→min banding over the full corpus — the banding
        was already paid once per delivery inside the stream, and at
        x30 the probe-side re-scan was the registered query's single
        largest constant (measured A/B in SCALE.md r11). Values are
        identical to decisions(corpus) by construction: the persisted
        rows are exactly band_keys(delivered docs), duplicates across
        deliveries collapse in the min."""
        return self._decide(self.ingested_bands())

    def _decide(self, probe: DataFrame) -> DataFrame:
        idx = self.current_index()
        return (
            probe.join(idx, ["band_id", "band_key"])
            .groupBy(self.id_col)
            .agg(F.min("min_doc_id").alias("canonical_id"))
            .select(
                self.id_col,
                "canonical_id",
                (F.col("canonical_id") < F.col(self.id_col)).alias("is_dup"),
            )
        )
