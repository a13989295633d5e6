"""Continuous master→slave replication via Structured Streaming.

hamonitor parity (SURVEY §3.2): the reference runs a poll-based
supervisor that detects slave outages and hand-computes the missed
window to backfill (pkg/agent/hacluster.go:259-390). Spark-first, the
whole mechanism collapses into a checkpointed stream:

    readStream(source table) → writeStream.foreachBatch(idempotent
    append) with checkpointLocation

The checkpoint's offset log IS the gap detector: if the sink (or the
whole job) dies, the next start resumes from the last committed batch
and replays everything missed — the reference's
``[SlaveLastOK - CheckInterval, lastOK]`` window math
(hacluster.go:310,321) becomes exactly-once resume for free, without
the boundary-second fudge factor.

Scale notes: a file-source stream partitions new files across the
cluster per micro-batch; ``maxFilesPerTrigger`` bounds batch size the
way ``data-chuck-duration`` bounds the reference's chunks. foreachBatch
writes land in per-batch directories keyed by batch id, so a replayed
batch overwrites its own output instead of duplicating it (the same
idempotency design as operators/copy.py, and the parquet equivalent of
Delta's txn log). The driver, source reader and batch-keyed sink are
streaming/base.py's; this module adds the transactional sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from syncflux_spark.streaming.base import CheckpointedFileStream


class ReplicationStream(CheckpointedFileStream):
    """One measurement's continuous replication: source directory of
    parquet files → destination directory, exactly-once.

    The reference's equivalent loop: InfluxMonitor health ticker +
    HACluster supervisor + ReplicateData over detected gaps
    (pkg/agent/influxmonitor.go:164-187, hacluster.go:259-390).
    """

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_path: str,
        max_files_per_trigger: int | None = None,
        path_glob_filter: str | None = None,
        table_format: str = "dir",
        state_partitions: int | None = None,
        state_backend: str | None = None,
    ):
        if table_format not in ("dir", "tx"):
            raise ValueError(
                f"table_format must be 'dir' or 'tx', got {table_format!r}"
            )
        super().__init__(
            spark, src_path, dst_path, checkpoint_path,
            path_glob_filter=path_glob_filter,
            max_files_per_trigger=max_files_per_trigger,
            state_partitions=state_partitions,
            state_backend=state_backend,
        )
        #: ``dir``: per-batch directories (the base sink). ``tx``:
        #: batches are batch-id-tagged TxTable commits — snapshot-
        #: isolated readers and an O(1)-per-commit checkpointed log,
        #: the shape a long-lived 5-min-cadence replicator needs
        #: (~100k commits/year; see txtable.py module docstring).
        self.table_format = table_format

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """tx format: replace the ``batch=n``-tagged groups of the
        destination TxTable, so a replayed batch cannot double-write."""
        if self.table_format != "tx":
            return super()._write_batch(batch_df, batch_id)
        from syncflux_spark.txtable import TxTable

        TxTable.ensure(self.spark, self.dst_path).replace_tagged(
            "batch", str(batch_id), batch_df,
            stats_cols=[c for c in ("ts_ns",) if c in batch_df.columns],
        )

    def read_replica(self) -> DataFrame:
        """Everything replicated so far (snapshot-isolated in tx
        format — a half-committed concurrent batch is invisible)."""
        if self.table_format == "tx":
            from syncflux_spark.txtable import TxTable

            return TxTable(self.spark, self.dst_path).snapshot()
        return self._read_batches()
