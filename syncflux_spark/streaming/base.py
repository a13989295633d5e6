"""The checkpointed file-stream driver every stream in this package
shares.

hamonitor parity (SURVEY §3.2) is one Structured Streaming shape,
repeated per operator: a parquet directory read as a file stream, a
transform, and an idempotent sink under a checkpoint —

    readStream(src dir) → transform → foreachBatch(batch-keyed
    overwrite) with checkpointLocation, trigger availableNow

The checkpoint's offset log replays any batch whose commit did not
land; the sink makes that replay harmless, because batch ``n`` always
lands in ``batch=n/`` with overwrite semantics (or, for the streams
that override :meth:`CheckpointedFileStream._write_batch`, in an
equally batch-keyed commit). Update-mode streams emit a row per key
touched; :meth:`CheckpointedFileStream._latest_per_key` reads back the
newest batch's row for each key.

A subclass supplies its transform (:meth:`_transform`, or
:meth:`_stream` when it reads the source more than once), its output
mode and, where it differs, its sink. :class:`ParquetSinkStream` is
the variant for append-mode streams that write through Spark's
parquet file sink, whose ``_spark_metadata`` log is the idempotency
record instead of batch-keyed directories.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from syncflux_spark.functions.time import unixnano_to_ts


class CheckpointedFileStream:
    """A parquet directory stream → transform → idempotent sink,
    driven under ``checkpoint_path``.

    ``path_glob_filter`` scopes the stream to some files of the source
    directory (file streams need a DIRECTORY source); a falsy
    ``max_files_per_trigger`` folds everything pending into one
    batch. ``state_partitions`` / ``state_backend`` are the stateful
    streams' shard count and state-store provider, pinned into the
    checkpoint at the first batch (see utils.streaming_state; None =
    session conf)."""

    #: outputMode of the sink; stateful update-mode streams override
    output_mode = "append"

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_path: str,
        path_glob_filter: str | None = None,
        max_files_per_trigger: int | None = None,
        state_partitions: int | None = None,
        state_backend: str | None = None,
    ):
        self.spark = spark
        self.src_path = src_path
        self.dst_path = dst_path
        self.checkpoint_path = checkpoint_path
        self.path_glob_filter = path_glob_filter
        self.max_files_per_trigger = max_files_per_trigger
        self.state_partitions = state_partitions
        self.state_backend = state_backend
        self.batches_written = 0

    # -- source -------------------------------------------------------------
    def _batch_source(self) -> DataFrame:
        """The source's current files as a batch DataFrame."""
        reader = self.spark.read
        if self.path_glob_filter:
            reader = reader.option("pathGlobFilter", self.path_glob_filter)
        return reader.parquet(self.src_path)

    def _reader(self) -> DataFrame:
        """The source as a file stream. File streams need an explicit
        schema: it comes from the source's current files, so a schema
        change is picked up on the next run (the reference re-runs
        GetSchema after recovery, hacluster.go:331)."""
        # ns parquet scans its time column as an epoch long; TIMESTAMP,
        # not TIMESTAMP_NTZ, because watermarks need the tz-aware type
        # (the session tz is UTC)
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        self.spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        reader = self.spark.readStream.schema(self._batch_source().schema)
        reader = reader.option("latestFirst", "false")
        if self.path_glob_filter:
            reader = reader.option("pathGlobFilter", self.path_glob_filter)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.parquet(self.src_path)

    @staticmethod
    def _event_time(df: DataFrame, col: str, is_ns: bool | None = None) -> Column:
        """``col`` as a TimestampType event time: an ns-epoch long
        (nanosAsLong scan of ns parquet) is converted, a µs parquet
        timestamp is used as is. ``is_ns=None`` detects from the
        scanned type."""
        if is_ns is None:
            is_ns = dict(df.dtypes).get(col) == "bigint"
        return unixnano_to_ts(col) if is_ns else F.col(col)

    # -- transform ----------------------------------------------------------
    def _transform(self, df: DataFrame) -> DataFrame:
        return df

    def _stream(self) -> DataFrame:
        return self._transform(self._reader())

    # -- sink ---------------------------------------------------------------
    def _writer(self, stream: DataFrame) -> DataStreamWriter:
        return stream.writeStream.foreachBatch(self._on_batch)

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._write_batch(batch_df, batch_id)
        self.batches_written += 1

    def _write_batch(
        self, batch_df: DataFrame, batch_id: int, root: str | None = None
    ) -> None:
        """Idempotent sink: batch ``n`` always lands in ``batch=n/``
        under ``root`` (default ``dst_path``), so a checkpoint replay
        after a crash between 'sink write' and 'offset commit'
        overwrites instead of double-writing."""
        batch_df.write.mode("overwrite").parquet(
            os.path.join(root or self.dst_path, f"batch={batch_id}")
        )

    # -- drive --------------------------------------------------------------
    def _start(self, **trigger) -> StreamingQuery:
        return (
            self._writer(self._stream())
            .outputMode(self.output_mode)
            .option("checkpointLocation", self.checkpoint_path)
            .trigger(**trigger)
            .start()
        )

    def run_available(self) -> int:
        """Process everything currently available, then stop (the
        deterministic 'catch up now' trigger — used for backfill after
        an outage and in tests). Returns the batches applied."""
        from syncflux_spark.utils import streaming_state

        before = self.batches_written
        with streaming_state(self.spark, self.state_partitions, self.state_backend):
            self._start(availableNow=True).awaitTermination()
        return self.batches_written - before

    def start_continuous(self, processing_interval: str = "10 seconds") -> StreamingQuery:
        """Continuous mode: micro-batch every ``processing_interval``
        (the reference's check-interval cadence,
        conf/sample.syncflux.toml:60). Returns the StreamingQuery."""
        return self._start(processingTime=processing_interval)

    # -- read back ----------------------------------------------------------
    def _read_batches(self) -> DataFrame:
        """Every ``batch=<id>`` directory under ``dst_path``, unioned."""
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .option("basePath", self.dst_path)
            .parquet(self.dst_path)
        )

    def _latest_per_key(self, keys: list[str], cols: list[str]) -> DataFrame:
        """Update-sink read: for each key, the row of the newest batch
        that emitted it."""
        from pyspark.sql import Window

        batch = F.regexp_extract(F.input_file_name(), r"batch=(\d+)", 1)
        w = Window.partitionBy(*keys).orderBy(F.desc("_batch"))
        return (
            self._read_batches()
            .withColumn("_batch", batch.cast("long"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(*keys, *cols)
        )


class ParquetSinkStream(CheckpointedFileStream):
    """Append-mode streams into Spark's parquet file sink at
    ``dst_path``: the sink's ``_spark_metadata`` commit log hides
    uncommitted files, so replays are idempotent and a plain
    ``spark.read.parquet(dst_path)`` is a consistent snapshot."""

    def _writer(self, stream: DataFrame) -> DataStreamWriter:
        return stream.writeStream.format("parquet").option("path", self.dst_path)

    def run_available(self) -> int:
        """As the base; the batch count comes from the checkpoint's
        commit log, since the file sink makes no per-batch callback."""
        from syncflux_spark.utils import checkpoint_last_commit

        before = checkpoint_last_commit(self.spark, self.checkpoint_path)
        super().run_available()
        return checkpoint_last_commit(self.spark, self.checkpoint_path) - before
