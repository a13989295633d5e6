"""Small planning utilities."""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextlib.contextmanager
def shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily size ``spark.sql.shuffle.partitions`` around a
    block, restoring the session value afterwards.

    The streaming state store is the motivating caller: a stateful
    query pins its SHARD COUNT from this conf at its first batch
    (recorded in the checkpoint offset log, immutable for the
    checkpoint's lifetime), and every micro-batch then pays one task
    plus one store load/commit PER SHARD regardless of data volume —
    so the default batch parallelism (sized for full-table shuffles)
    over-shards small keyed state by 10-100×. Measured on the sf0.1
    fixtures: the stream-stream outer join ran 5× faster at 4 shards
    than at 32, identical results. At 100 TB the same dial turns the
    other way — raise it to the stateful stage's true parallelism
    before the FIRST run, because the checkpoint freezes it.

    ``n=None`` is a no-op passthrough, so callers can thread an
    optional knob without branching.

    NOT thread-safe: the conf is session-global, so any query started
    concurrently on the same SparkSession (another thread, or a
    continuous stream still running) silently inherits the temporary
    value. Callers must not overlap runs on one session while inside
    this block — the registry runs queries one at a time, which is
    the contract this helper assumes.
    """
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


#: provider classes behind the ``state_backend`` dial on the
#: streaming operators. ``hdfs`` (Spark's default) keeps every shard's
#: state as an in-heap map snapshotted to the checkpoint — right for
#: small keyed state; ``rocksdb`` keeps it off-heap on local disk with
#: changelog/zip snapshots — the 100 TB backend, where watermark-
#: horizon state (stream-stream join buffers, session windows over
#: millions of keys) must not live on the executor heap.
STATE_BACKENDS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


@contextlib.contextmanager
def streaming_state(
    spark: SparkSession,
    partitions: int | None = None,
    backend: str | None = None,
):
    """Scope BOTH streaming-state dials around a stream run: shard
    count (see :func:`shuffle_partitions`) and the state-store
    provider class. Like the shard count, the provider is pinned into
    the checkpoint at the stream's first batch — switching it on an
    existing checkpoint is not supported by Spark, so set it before
    the FIRST run. ``None`` for either leaves the session conf
    untouched. Session-global like :func:`shuffle_partitions` — do
    not start concurrent queries on the session inside the block."""
    if backend is not None and backend not in STATE_BACKENDS:
        raise ValueError(
            f"state_backend must be one of {sorted(STATE_BACKENDS)}, "
            f"got {backend!r}"
        )
    key = "spark.sql.streaming.stateStore.providerClass"
    with shuffle_partitions(spark, partitions):
        if backend is None:
            yield
            return
        prev = spark.conf.get(key)
        spark.conf.set(key, STATE_BACKENDS[backend])
        try:
            yield
        finally:
            spark.conf.set(key, prev)


def loop_parallelism(
    spark: SparkSession, n_rows: int, rows_per_partition: int = 250_000
) -> int:
    """Shuffle-partition count for a DRIVER-COORDINATED iterative loop
    whose per-round shuffled state is ~``n_rows`` narrow rows (label
    tables, rank tables, peeling edge lists).

    Each loop round launches jobs whose shuffles pay one task + one
    partition-file per shuffle partition regardless of data volume —
    the batch default (sized for full-table scans) multiplies that
    fixed cost by rounds. Measured on the sf0.1 semantic components
    loop (2k labels, ~7 rounds): 12.7s at 32 partitions → 5.0s at 8,
    identical labels — the iterative-loop twin of the streaming
    state-shard sizing in :func:`shuffle_partitions`.

    Clamped to the session default so the dial only ever turns DOWN
    at toy state sizes: at 10⁹ nodes the quotient exceeds any session
    default and the loop keeps full parallelism. Callers already know
    ``n_rows`` (components/pagerank count nodes anyway), so this adds
    no extra job."""
    import math

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(default, math.ceil(n_rows / rows_per_partition)))


def spread_for_cpu(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a *small-bytes, big-CPU* input to the session's
    parallelism.

    Spark sizes scan partitions by bytes (``files.maxPartitionBytes``),
    which is right for IO-bound work at 100 TB but leaves a few-MB
    parquet file in ONE partition — so a CPU-heavy narrow transform
    (md5-per-shingle, per-plane dot products) runs on one core. On the
    sf0.1 fixture this made MinHash signatures 9s instead of ~1s.
    A round-robin repartition of the small input costs microseconds
    and buys full core utilization; for inputs already split this is
    a no-op.
    """
    if df.isStreaming:
        # no .rdd on a streaming plan; micro-batch parallelism comes
        # from the source trigger + state shuffle, so pass through
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def loop_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` for ITERATIVE-LOOP state, with the leaf's
    statistics reset.

    ``localCheckpoint`` truncates the logical plan but carries the
    pre-checkpoint plan's ``Statistics`` onto the new leaf. In a loop
    whose round references its own state more than once (connected
    components' pointer-halving label SELF-join), the next round's
    sizeInBytes estimate becomes a PRODUCT of the previous leaf's —
    the estimate compounds to s³ per round, so its BigInteger digit
    count roughly TRIPLES every round (measured 6 → 22 → 69 → 211 →
    635 → 1909 → 5730 …) and by round ~12 Catalyst spends most of the
    wall clock multiplying million-digit integers inside
    SizeInBytesOnlyStatsPlanVisitor: round times went 0.5s → 2.4s →
    13s → 48s on a 2000-node graph. Caught by tools/measure_slopes.py
    on a 15-round graph; latent in any convergence-driven loop that
    outlasts ~11 rounds.

    The fix rebuilds a FRESH ``LogicalRDD`` over the already-
    checkpointed rows (``internalCreateDataFrame`` — zero extra IO or
    compute; the rdd is the same materialized blocks), which restores
    the session-default size estimate, making per-round planning cost
    constant. Loops whose state is referenced ONCE per round
    (PageRank's rank table) only grow digits linearly and don't need
    this, but it's correct and free there too.

    Falls back to the plain checkpoint if the internal constructor is
    unavailable (correct, just slow past ~11 rounds)."""
    ck = df.localCheckpoint()
    spark = df.sparkSession
    try:
        fresh = spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False
        )
        return DataFrame(fresh, spark)
    except Exception:  # private API moved: keep correctness
        return ck


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` resolved through Hadoop's
    filesystem registry — the SAME resolution Spark applies to
    ``checkpointLocation``, so ``file:/``, ``hdfs://``, ``s3a://``,
    ``dbfs:/`` and scheme-less local paths all land on the store the
    checkpoint actually lives on. Driver-local ``os.path`` calls only
    see the local disk, which silently misses every remote scheme
    (ADVICE r11: a marker "not found" on s3a:// would re-derive state
    sizing against a grown corpus and orphan the checkpoint)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def checkpoint_marker_read(spark: SparkSession, path: str) -> str | None:
    """Read a small text marker from any Hadoop-visible filesystem;
    ``None`` when absent. Markers pin per-checkpoint decisions (state
    shard counts, sink coverage) that must survive restarts on the
    checkpoint's OWN store — see :func:`_hadoop_fs` for why this is
    not ``open()``."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        out = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            out.append(b)
        return out.decode("utf-8")
    finally:
        stream.close()


def checkpoint_marker_write(spark: SparkSession, path: str, value: str) -> None:
    """Write (overwrite) a small text marker on the checkpoint's
    filesystem — companion of :func:`checkpoint_marker_read`."""
    fs, jpath = _hadoop_fs(spark, path)
    parent = jpath.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(value.encode("utf-8")))
    finally:
        stream.close()


def checkpoint_has_commits(spark: SparkSession, checkpoint_path: str) -> bool:
    """True when a streaming checkpoint has at least one COMMITTED
    batch — the "this checkpoint has history" predicate sink-coverage
    markers need (a marker may only claim from-batch-0 coverage on a
    checkpoint with no prior commits)."""
    return checkpoint_last_commit(spark, checkpoint_path) >= 0


def checkpoint_last_commit(spark: SparkSession, checkpoint_path: str) -> int:
    """Id of a streaming checkpoint's newest COMMITTED batch, -1 when
    it has none. Resolved on the checkpoint's filesystem like the
    markers."""
    fs, jpath = _hadoop_fs(spark, checkpoint_path.rstrip("/") + "/commits")
    if not fs.exists(jpath):
        return -1
    names = (st.getPath().getName() for st in fs.listStatus(jpath))
    return max((int(n) for n in names if n.isdigit()), default=-1)


def eager_persist(df: DataFrame) -> DataFrame:
    """Persist AND materialize now.

    A lazy ``persist()`` feeding both sides of a self-join is a trap:
    the join's first action schedules both scan stages concurrently,
    each finds the cache unpopulated, and the upstream plan runs
    twice. Forcing a ``count()`` here populates the cache once, so
    every later scan (including concurrent ones) is a cache hit."""
    df = df.persist()
    df.count()
    return df


def salted_join(
    left,
    right,
    keys: list[str],
    n_salts: int = 8,
    how: str = "inner",
):
    """Skew-resistant equi-join: append a salt to the LEFT side's key
    (hash-derived, deterministic) and explode the RIGHT side across
    all salts, so one hot key spreads over ``n_salts`` shuffle
    partitions instead of one straggler task.

    Use when a join key is pathologically skewed AND AQE's runtime
    skew-join split isn't available/enough (e.g. the skew is inside a
    single key, which partition-splitting can't fix without salting).
    The right side replicates ×n_salts — apply to the smaller input.
    At 100 TB: salt the fact side, replicate the dim side.

    Only left-preserving joins are allowed: the right side is
    replicated across every salt, so a right/full outer join would
    emit each unmatched right row ``n_salts`` times.  The salt is
    derived from the left row's full content (not a nondeterministic
    row id) so task retries recompute the identical salt.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti", "leftsemi", "leftanti"):
        raise ValueError(
            f"salted_join supports left-preserving joins only, got how={how!r}: "
            "the replicated right side would duplicate unmatched right rows"
        )
    salt_l = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns], F.lit(0x5A17)), F.lit(n_salts))
    lhs = left.withColumn("_salt", salt_l)
    rhs = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = lhs.join(rhs, keys + ["_salt"], how)
    return out.drop("_salt")


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "_rank",
    n_ranges: int | None = None,
    return_total: bool = False,
):
    """Contiguous 1-based global sort rank WITHOUT the single-partition
    collapse of ``row_number() OVER (ORDER BY ...)``: range-partition
    on the sort key, rank within each range partition, then offset by
    the cumulative counts of the preceding partitions. The offsets are
    one tiny count per partition (collected to the driver — B scalars,
    not data), and the result equals the global ROW_NUMBER regardless
    of where the sampled range boundaries land, because range
    partitions are contiguous in sort order. ``order_cols`` must be a
    deterministic total order (append a unique id as tiebreak).

    At 100 TB this is the standard distributed ranking shape: one
    range-exchange + per-partition sorts, no all-to-one stage.
    """
    from pyspark.sql import Window

    n_ranges = n_ranges or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(n_ranges, *cols).withColumn(
        "_gr_part", F.spark_partition_id()
    )
    # persist + collect the per-partition counts in ONE action: the
    # counts aggregate is itself the materializing pass (a single
    # action can't race itself, so the eager_persist two-job form —
    # count() then collect() — would pay a whole extra job per rank
    # pass for nothing; chained callers like customer_rfm_segments
    # run three passes, so this halves their job count).
    # NOTE the persist is load-bearing for CORRECTNESS, not just
    # speed: the counts and the ranks must see the SAME range
    # boundaries, and two executions of a repartitionByRange exchange
    # sample independently — without the cache pin, the rank pass
    # could land rows in different partitions than the counted ones.
    parted = parted.persist()
    counts = {
        r._gr_part: r.n
        for r in parted.groupBy("_gr_part").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("_gr_part").orderBy(*cols)
    ranked = parted.withColumn(
        rank_col,
        (off[F.col("_gr_part")] + F.row_number().over(w)).cast("long"),
    ).drop("_gr_part")
    if return_total:
        # acc already holds the total row count — hand it back so
        # callers (e.g. quantile-by-rank) don't pay a second count()
        # pass over the ranked data
        return ranked, acc
    return ranked


def key_skew_report(
    df: DataFrame,
    keys: list[str],
    top_k: int = 10,
) -> DataFrame:
    """Shuffle-key skew diagnostics — the first thing to look at when
    a 1000-executor stage straggles: per-key row counts for the
    ``top_k`` heaviest keys, each with its share of total rows and
    its multiple of the mean key load. A top key at 30% share means
    the downstream join/agg puts 30% of the shuffle on one task —
    reach for salting (:func:`salted_join`), broadcast, or a
    different key.

    One partial-agg shuffle on the key (the same cost class as the
    aggregation being diagnosed) + a scalar totals broadcast + a
    top-k heap. Output: (key [concat_ws of the key columns], n_rows,
    share, x_mean).
    """
    key_col = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    counts = df.groupBy(key_col.alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_nkeys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            (F.col("n_rows") / F.col("_total")).alias("share"),
            (
                F.col("n_rows")
                / (F.col("_total") / F.col("_nkeys"))
            ).alias("x_mean"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(top_k)
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "_cum",
    n_ranges: int | None = None,
) -> DataFrame:
    """Running total over a GLOBAL sort order without the
    single-partition collapse of ``SUM() OVER (ORDER BY ...)``: the
    same two-level shape as :func:`global_rank` — range-partition on
    the sort key, windowed running sum within each range partition,
    then offset each partition by the total of all preceding
    partitions (B driver-side scalars, not data). Exact for integer
    ``value_col`` (partial sums add associatively); ``order_cols``
    must be a deterministic total order.

    The 100 TB use: budget/knapsack selections ("take the best docs
    until N tokens"), cumulative distribution curves, prefix-mass
    cuts — anywhere a global prefix aggregate would otherwise
    tempt a one-partition window.
    """
    from pyspark.sql import Window

    n_ranges = n_ranges or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(n_ranges, *cols).withColumn(
        "_gc_part", F.spark_partition_id()
    )
    parted = eager_persist(parted)
    sums = {
        r._gc_part: r.s
        for r in parted.groupBy("_gc_part")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    }
    offsets, acc = {}, 0
    for p in sorted(sums):
        offsets[p] = acc
        acc += sums[p] or 0
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = (
        Window.partitionBy("_gc_part")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return parted.withColumn(
        out_col,
        (off[F.col("_gc_part")] + F.sum(value_col).over(w)).cast("long"),
    ).drop("_gc_part")
