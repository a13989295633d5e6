"""Streaming CDC apply: a checkpointed stream of insert/update/delete
change batches continuously merged into a base parquet table.

The batch operator (operators/cdc.py::apply_changes) gives MERGE
semantics for one batch; this module wraps it in Structured
Streaming's exactly-once machinery (the checkpointed driver of
streaming/base.py, with the merge as its sink):

    readStream(changes dir) → foreachBatch(merge into base via
    staging-swap) with checkpointLocation

Crash safety is the composition of two idempotencies:

* the checkpoint's offset log replays any batch whose commit did not
  land — and re-applying a CDC batch is a NO-OP by construction
  (inserts replace, updates set the same values, deletes of absent
  keys are ignored), so at-least-once replay yields exactly-once
  state;
* the base rewrite goes through a staging directory + atomic rename
  (same swap discipline as operators/compact.py), so a reader or a
  crash mid-rewrite never observes a half-merged table.

Scale notes: each micro-batch costs one base-vs-batch equality join
(the batch side broadcasts; the base side is scanned once and written
once). Rewriting the base per batch is the plain-parquet trade-off —
on a real deployment the same ``apply_changes`` plan writes through a
table format (Delta/Iceberg MERGE) and only touched files rewrite;
the operator and its semantics are unchanged. The reference has no
CDC surface; this is the dimension-table counterpart of its
replication loop (pkg/agent/hacluster.go).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syncflux_spark.operators.cdc import apply_changes, compact_changes
from syncflux_spark.streaming.base import CheckpointedFileStream


class CdcMergeStream(CheckpointedFileStream):
    """Continuously merge change-batch parquet files into a base
    table directory with MERGE semantics and exactly-once effect."""

    def __init__(
        self,
        spark: SparkSession,
        changes_path: str,
        base_path: str,
        checkpoint_path: str,
        key_col: str,
        op_col: str = "op",
        max_files_per_trigger: int | None = None,
        seq_col: str | None = None,
        base_format: str = "dir",
        state_partitions: int | None = None,
        state_backend: str | None = None,
    ):
        #: "dir" = plain-parquet directory with locked staging swap
        #: (single concurrent writer, enforced); "tx" = a
        #: txtable.TxTable commit log at base_path — OCC merges that
        #: serialize against OTHER writers (a compactor, a second
        #: merger) without the advisory lock
        if base_format not in ("dir", "tx"):
            raise ValueError(f"base_format must be 'dir' or 'tx', got {base_format!r}")
        # state_partitions sizes the per-batch compaction window +
        # merge join (no streaming state here — CDC state is the base
        # table itself)
        super().__init__(
            spark, changes_path, base_path, checkpoint_path,
            max_files_per_trigger=max_files_per_trigger,
            state_partitions=state_partitions,
            state_backend=state_backend,
        )
        self.changes_path = changes_path
        self.base_path = base_path
        self.key_col = key_col
        self.op_col = op_col
        #: explicit change-sequence column (LSN/commit ts) if the feed
        #: carries one; otherwise file order (mtime, path) sequences
        self.seq_col = seq_col
        self.base_format = base_format

    def _transform(self, df: DataFrame) -> DataFrame:
        # carry the source file's (mtime, path) so a micro-batch that
        # folds several accumulated change files (availableNow with no
        # maxFilesPerTrigger) can be compacted to the LAST change per
        # key in file order before the merge
        return df.select(
            "*",
            F.col("_metadata.file_modification_time").alias("_cdc_mtime"),
            F.col("_metadata.file_path").alias("_cdc_file"),
        )

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._apply_batch(batch_df, batch_id)

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        # exact replays of one file collapse; then compact the batch
        # to the last change per key — an I-then-U or U-then-D pair
        # for one key across files must apply as its final state, not
        # join the base row to two change rows. Sequence = explicit
        # seq_col when the feed has one, else (file mtime, file path);
        # two changes for one key inside ONE file tie and raise
        # (DuplicateChangeKeyError) rather than merge arbitrarily.
        batch_df = batch_df.dropDuplicates()
        if self.seq_col:
            seq_fields = [F.col(self.seq_col)]
        elif "_cdc_mtime" in batch_df.columns:
            seq_fields = [F.col("_cdc_mtime"), F.col("_cdc_file")]
        else:
            # direct replay of a hand-built batch (no file lineage):
            # constant seq — per-key duplicates then tie and raise
            seq_fields = [F.lit(0)]
        compacted = compact_changes(
            batch_df.withColumn("_cdc_seq", F.struct(*seq_fields)),
            key_col=self.key_col,
            seq_col="_cdc_seq",
            op_col=self.op_col,
        ).drop("_cdc_seq", "_cdc_mtime", "_cdc_file")
        if self.base_format == "tx":
            from syncflux_spark.txtable import TxTable

            TxTable(self.spark, self.base_path).merge_changes(
                compacted, key_col=self.key_col, op_col=self.op_col
            )
            return
        base = self.spark.read.parquet(self.base_path)
        merged = apply_changes(
            base,
            compacted,
            key_col=self.key_col,
            op_col=self.op_col,
            check_unique=False,  # uniqueness guaranteed by compaction
        )
        from syncflux_spark.locking import table_lock

        with table_lock(self.base_path):
            staging = f"{self.base_path}.cdc-{uuid.uuid4().hex[:8]}"
            merged.write.mode("overwrite").parquet(staging)
            old = f"{self.base_path}.old-{uuid.uuid4().hex[:8]}"
            os.rename(self.base_path, old)
            os.rename(staging, self.base_path)
            shutil.rmtree(old)

    def read_base(self) -> DataFrame:
        if self.base_format == "tx":
            from syncflux_spark.txtable import TxTable

            return TxTable(self.spark, self.base_path).snapshot()
        return self.spark.read.parquet(self.base_path)
