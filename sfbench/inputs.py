"""Seeded inputs in the FIXTURES.md §A2 ``metrics`` shape.

One row is one point: ``time_ns`` (ns epoch, canonical), ``ts`` (µs
timestamp derived from it), tags ``host``/``region`` and one field of
each InfluxDB type (float, integer, unsigned, boolean, string). About
10% of every field is null (sparse fields), and hosts report on
10-second multiples, so every 5-minute chunk boundary second carries
points. Everything here is numpy/pyarrow; nothing imports Spark, so the
program under test only ever sees the files written from these tables.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa

NS = 1_000_000_000
#: base of every generated time axis: a chunk-aligned UTC instant
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
REGIONS = ("us-east", "us-west", "eu-central", "ap-south")
STATES = ("ok", "warn", "crit", "idle", "busy")
NULL_FRAC = 0.10

SCHEMA = pa.schema(
    [
        ("time_ns", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("host", pa.string()),
        ("region", pa.string()),
        ("f_float", pa.float64()),
        ("f_int", pa.int64()),
        ("f_uint", pa.decimal128(20, 0)),
        ("f_bool", pa.bool_()),
        ("f_str", pa.string()),
    ]
)
TAGS = ("host", "region")
FIELDS = {
    "f_float": "float",
    "f_int": "integer",
    "f_uint": "unsigned",
    "f_bool": "boolean",
    "f_str": "string",
}


def rng_for(seed: int, *labels) -> np.random.Generator:
    """Independent, reproducible stream per (seed, labels)."""
    h = hashlib.sha256(repr((seed, labels)).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def host_regions(n_hosts: int, seed: int) -> tuple[list[str], list[str]]:
    rng = rng_for(seed, "regions")
    hosts = [f"host-{i:04d}" for i in range(n_hosts)]
    regions = [REGIONS[i] for i in rng.integers(0, len(REGIONS), n_hosts)]
    return hosts, regions


def points(
    seed: int,
    label: str,
    n_hosts: int,
    start_s: int,
    end_s: int,
    interval_s: int = 10,
) -> pa.Table:
    """Every host at every ``interval_s`` multiple in [start_s, end_s).
    Off-boundary points get a seeded sub-second ns offset (exercising
    ns→µs truncation); points on 5-minute boundary seconds stay exact."""
    rng = rng_for(seed, "points", label, start_s, end_s)
    hosts, regions = host_regions(n_hosts, seed)
    first = -(-start_s // interval_s) * interval_s
    secs = np.arange(first, end_s, interval_s, dtype=np.int64)
    n = len(secs) * n_hosts
    t_sec = np.repeat(secs, n_hosts)
    h_idx = np.tile(np.arange(n_hosts), len(secs))
    frac = rng.integers(0, NS, n, dtype=np.int64)
    frac[t_sec % 300 == 0] = 0
    time_ns = t_sec * NS + frac

    def nulls() -> np.ndarray:
        return rng.random(n) < NULL_FRAC

    f_float = np.round(rng.normal(50.0, 20.0, n), 6)
    f_int = rng.integers(-1_000_000, 1_000_000, n, dtype=np.int64)
    f_uint = rng.integers(0, 1 << 40, n, dtype=np.int64)
    f_bool = rng.random(n) < 0.5
    f_str = np.asarray(STATES, dtype=object)[rng.integers(0, len(STATES), n)]
    host_arr = np.asarray(hosts, dtype=object)[h_idx]
    region_arr = np.asarray(regions, dtype=object)[h_idx]
    uint_vals = pa.array(f_uint, pa.int64()).cast(pa.decimal128(20, 0))
    cols = [
        pa.array(time_ns, pa.int64()),
        pa.array(time_ns // 1000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        pa.array(host_arr, pa.string()),
        pa.array(region_arr, pa.string()),
        pa.array(f_float, pa.float64(), mask=nulls()),
        pa.array(f_int, pa.int64(), mask=nulls()),
        _masked(uint_vals, nulls()),
        pa.array(f_bool, pa.bool_(), mask=nulls()),
        pa.array(f_str, pa.string(), mask=nulls()),
    ]
    return pa.Table.from_arrays(cols, schema=SCHEMA)


def _masked(arr: pa.Array, mask: np.ndarray) -> pa.Array:
    import pyarrow.compute as pc

    return pc.if_else(pa.array(mask), pa.scalar(None, arr.type), arr)


def window(tbl: pa.Table, lo_ns: int, hi_ns: int) -> pa.Table:
    """Rows whose µs timestamp falls in [lo, hi) — the engine filters
    on the µs ``ts`` column when no ``ts_ns`` companion exists."""
    import pyarrow.compute as pc

    t = tbl["time_ns"]
    lo = lo_ns // 1000 * 1000
    hi = -(-hi_ns // 1000) * 1000
    return tbl.filter(pc.and_(pc.greater_equal(t, lo), pc.less(t, hi)))


# ---------------------------------------------------------------------------
# order-insensitive content digest
# ---------------------------------------------------------------------------

DIGEST_COLS = ("time_ns", "host", "region") + tuple(FIELDS)
_NULL_AS = {
    "host": "\0",
    "region": "\0",
    "f_str": "\0",
    "f_float": -1e308,
    "f_int": -(1 << 63),
    "f_uint": -1,
    "f_bool": -1,
}


def canonical(tbl: pa.Table) -> pd.DataFrame:
    """Normalise a points table (generated, or read back from the
    program's output) so equal points hash equally: unsigned and
    boolean become int64, nulls become per-column sentinels."""
    out = {"time_ns": tbl["time_ns"].cast(pa.int64())}
    for c, null in _NULL_AS.items():
        col = tbl[c]
        if c in ("f_uint", "f_bool"):
            col = col.cast(pa.int64())
        out[c] = col.fill_null(null)
    return pa.table(out).select(list(DIGEST_COLS)).to_pandas()


def digest(tbl: pa.Table) -> tuple[int, int]:
    """(row count, order-insensitive sum of per-row hashes)."""
    if tbl.num_rows == 0:
        return 0, 0
    h = pd.util.hash_pandas_object(canonical(tbl), index=False).to_numpy()
    return tbl.num_rows, int(h.sum(dtype=np.uint64))
