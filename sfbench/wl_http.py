"""``http_write_query``: the engine as both ends of a syncflux pair.

``cli.build_server`` starts in-process on port 0 over one source
measurement (``metrics``) with a write sink. Four closed-loop clients,
each on one persistent loopback connection:

* two writers POST 5,000-point line-protocol bodies to ``/write``;
* one scanner pulls newest-first 5m windows with the reference's scan
  template (``SELECT * … GROUP BY *``, ``chunked=true&chunk_size=10000``);
* one dashboard reader asks ``mean``/``max`` of ``f_float``
  ``GROUP BY time(5m), region`` over 2h windows.

``build_server`` treats every string column as a tag, so the source
stores the time as ``ts`` at ns precision (a ``time_ns`` long would be
served as an integer field) and the write bodies carry ``f_str`` as a
tag. Writes land in the sink's directories, not in the queried table,
so they are checked by reading those directories.
"""

from __future__ import annotations

import glob
import http.client
import json
import math
import os
import threading
import time
import urllib.parse
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from harness import pct

MEAS = "metrics"
WRITE_POINTS = 5000
SCAN_S = 300
AGG_S = 2 * 3600
AGG_STEP_S = 1800
SOURCE_H = 6


class HttpMix:
    def __init__(self, run, mini: bool):
        self.run = run
        self.hosts = 20 if mini else 200
        self.write_points = 500 if mini else WRITE_POINTS
        self.hours = 3 if mini else SOURCE_H
        self.requests: list[dict] = []
        self.errors: list[str] = []
        self.rows_returned = 0
        self.timed_from = 0
        self._lock = threading.Lock()

    # -- inputs -------------------------------------------------------------
    def generate(self) -> None:
        lo = inputs.EPOCH_S
        hi = lo + self.hours * 3600
        tbl = inputs.points(self.run.seed, MEAS, self.hosts, lo, hi)
        self.src_root = self.run.path("src")
        os.makedirs(self.src_root)
        served = tbl.drop(["time_ns", "ts"]).add_column(
            0, "ts", tbl["time_ns"].cast(pa.timestamp("ns", tz="UTC"))
        )
        pq.write_table(served, os.path.join(self.src_root, f"{MEAS}.parquet"))
        t = tbl["time_ns"]
        # scan windows, newest first, with their row counts
        self.scans = []
        for k in range((hi - lo) // SCAN_S):
            w_hi = hi - k * SCAN_S
            n = pc.sum(pc.and_(pc.greater_equal(t, (w_hi - SCAN_S) * inputs.NS),
                               pc.less(t, w_hi * inputs.NS))).as_py()
            self.scans.append((w_hi - SCAN_S, w_hi, n))
        # dashboard windows, newest first, with expected mean/max per
        # (region, 5m bucket)
        df = tbl.select(["time_ns", "region", "f_float"]).to_pandas()
        df["bucket"] = df["time_ns"] // (SCAN_S * inputs.NS) * SCAN_S
        self.aggs = []
        for k in range((hi - lo - AGG_S) // AGG_STEP_S + 1):
            a_hi = hi - k * AGG_STEP_S
            part = df[(df.time_ns >= (a_hi - AGG_S) * inputs.NS) & (df.time_ns < a_hi * inputs.NS)]
            g = part.groupby(["region", "bucket"])["f_float"].agg(["mean", "max"])
            want = {
                (r, int(b)): (m, x) for (r, b), (m, x) in zip(g.index, g.to_numpy())
            }
            self.aggs.append((a_hi - AGG_S, a_hi, want))
        self.write_lo = hi + 3600

    def _body(self, writer: int, j: int) -> str:
        """Body ``j`` of writer ``writer``: its own seeded points in its
        own future time range."""
        n_ts = self.write_points // self.hosts
        lo = self.write_lo + (writer * 100_000 + j) * n_ts * 10
        tbl = inputs.points(self.run.seed, f"w{writer}", self.hosts, lo, lo + n_ts * 10)
        return "\n".join(_line(r) for r in tbl.to_pylist())

    # -- program-side start -------------------------------------------------
    def start(self, spark, round_dir: str) -> None:
        from syncflux_spark import cli

        self.dst_root = os.path.join(round_dir, "sink")
        os.makedirs(self.dst_root)
        self.server = cli.build_server(spark, self.src_root, self.dst_root, port=0)
        self.accepted = 0

    def warmup(self) -> None:
        """One request of each type, so no measured client pays a cold
        first request."""
        conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=120)
        try:
            for kind, j in (("write", -1), ("scan", 0), ("agg", 0)):
                self._request(conn, kind, -1, j, record=False)
        finally:
            conn.close()

    def stop(self) -> None:
        self.server.stop()

    # -- requests -----------------------------------------------------------
    def _request(self, conn, kind: str, client: int, j: int, record: bool = True) -> None:
        if kind == "write":
            text = self._body(max(client, 0), j if j >= 0 else 99_999)
            n_lines = text.count("\n") + 1
            args = ("POST", "/write?db=sfbench", text.encode())
        elif kind == "scan":
            lo, hi, want = self.scans[j % len(self.scans)]
            text = (f"SELECT * FROM {MEAS} WHERE time >= '{_rfc(lo)}' AND "
                    f"time < '{_rfc(hi)}' GROUP BY *")
            args = ("GET", "/query?" + urllib.parse.urlencode(
                {"db": "sfbench", "q": text, "chunked": "true", "chunk_size": "10000"}), None)
        else:
            lo, hi, want = self.aggs[j % len(self.aggs)]
            text = (f"SELECT mean(f_float), max(f_float) FROM {MEAS} WHERE "
                    f"time >= '{_rfc(lo)}' AND time < '{_rfc(hi)}' "
                    f"GROUP BY time(5m), region")
            args = ("GET", "/query?" + urllib.parse.urlencode(
                {"db": "sfbench", "q": text, "epoch": "ns"}), None)
        t0 = time.monotonic()
        ok, status, payload, hdr = False, None, b"", {}
        try:
            conn.request(*args)
            resp = conn.getresponse()
            payload = resp.read()
            status = resp.status
            hdr = dict(resp.getheaders())
            ok = 200 <= status < 300
        except (OSError, http.client.HTTPException) as ex:
            payload = f"{type(ex).__name__}: {ex}".encode()
            conn.close()
        t1 = time.monotonic()
        err = None
        if not ok:
            err = f"{kind} HTTP {status}: {payload[:200]!r}"
        elif kind == "write":
            got = int(hdr.get("X-Points-Written", -1))
            if status != 204 or got != n_lines:
                err = f"write answered {status} with X-Points-Written={got}, sent {n_lines}"
            else:
                with self._lock:
                    self.accepted += got
        elif kind == "scan":
            rows = _chunked_rows(payload)
            if rows != want:
                err = f"scan [{lo}, {hi}) returned {rows} rows, want {want}"
            elif record:
                with self._lock:
                    self.rows_returned += rows
        else:
            err = _check_agg(payload, want)
        with self._lock:
            if err:
                self.errors.append(err)
            if record:
                self.requests.append(
                    {"kind": kind, "client": client, "t0": t0, "t1": t1, "ok": ok,
                     "points": n_lines if kind == "write" and ok else 0,
                     "text": text}
                )

    # -- measured phase -----------------------------------------------------
    def mark(self) -> None:
        """Requests so far settled the JVM; time only those after."""
        self.timed_from = len(self.requests)
        self.rows_returned = 0

    def measure(self, done) -> None:
        """The clients run concurrently and form no segments: they stop
        at ``done.seconds``."""
        clients = [("write", 0), ("write", 1), ("scan", 2), ("agg", 3)]
        self.deadline = time.monotonic() + done.seconds
        self.t_start = time.monotonic()

        def loop(kind: str, client: int) -> None:
            conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=120)
            try:
                # continue after the settle phase: new bodies, next windows
                j = sum(r["client"] == client for r in self.requests)
                while time.monotonic() < self.deadline:
                    self._request(conn, kind, client, j)
                    j += 1
            finally:
                conn.close()

        threads = [threading.Thread(target=loop, args=c, name=f"client-{c[1]}") for c in clients]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.t_end = max(r["t1"] for r in self.requests[self.timed_from:])

    # -- correctness --------------------------------------------------------
    def verify(self) -> list[str]:
        errs = list(self.errors)
        files = glob.glob(os.path.join(self.dst_root, MEAS, "*.parquet"))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if rows != self.accepted:
            errs.append(f"sink holds {rows} rows, writes accepted {self.accepted}")
        for kind in ("write", "scan", "agg"):
            if not any(r["kind"] == kind for r in self.requests):
                errs.append(f"no {kind} request completed")
        return errs

    # -- results ------------------------------------------------------------
    @property
    def timed(self) -> list[dict]:
        return self.requests[self.timed_from:]

    def _lat(self, kind: str | None) -> list[float]:
        return [
            (r["t1"] - r["t0"]) * 1000.0
            for r in self.timed
            if kind is None or r["kind"] == kind
        ]

    def results(self) -> dict:
        p50 = {k: pct(self._lat(k), 0.5) for k in ("write", "scan", "agg")}
        wall = self.t_end - self.t_start
        written = sum(r["points"] for r in self.timed)
        failed = sum(not r["ok"] for r in self.timed)
        return {
            "points": written + self.rows_returned,
            "points_per_s": written / wall,
            "op_p50_ms": math.exp(sum(math.log(v) for v in p50.values()) / 3),
            "attempted": len(self.timed),
            "failed": failed,
            "report": {
                "write_p50_ms": (p50["write"], "ms"),
                "scan_p50_ms": (p50["scan"], "ms"),
                "agg_p50_ms": (p50["agg"], "ms"),
                "request_p90_ms": (pct(self._lat(None), 0.9), "ms"),
                "write_points_per_s": (written / wall, "1/s"),
                "writes": (len(self._lat("write")), "count"),
                "scans": (len(self._lat("scan")), "count"),
                "aggs": (len(self._lat("agg")), "count"),
            },
        }

    def sink_files(self) -> int:
        return len(glob.glob(os.path.join(self.dst_root, MEAS, "*.parquet")))

    def op_counts(self) -> dict[str, int]:
        return {"requests": len(self.timed)}


def _rfc(sec: int) -> str:
    return datetime.fromtimestamp(sec, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _esc(v: str) -> str:
    return v.replace("\\", "\\\\").replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")


def _line(r: dict) -> str:
    """One point as the server's schema declares it: host, region and
    f_str are tags (string columns), the rest typed fields."""
    tags = "".join(
        f",{k}={_esc(r[k])}" for k in ("host", "region", "f_str") if r[k] is not None
    )
    fields = []
    if r["f_float"] is not None:
        fields.append(f"f_float={r['f_float']!r}")
    if r["f_int"] is not None:
        fields.append(f"f_int={r['f_int']}i")
    if r["f_uint"] is not None:
        fields.append(f"f_uint={int(r['f_uint'])}u")
    if r["f_bool"] is not None:
        fields.append(f"f_bool={'true' if r['f_bool'] else 'false'}")
    if not fields:  # a point needs one field; keep the timestamp's row
        fields.append("f_int=0i")
    return f"{MEAS}{tags} {','.join(fields)} {r['time_ns']}"


def _chunked_rows(payload: bytes) -> int:
    n = 0
    for line in payload.splitlines():
        if not line.strip():
            continue
        doc = json.loads(line)
        for res in doc.get("results", []):
            if "error" in res:
                return -1
            for s in res.get("series", []):
                n += len(s.get("values", []))
    return n


def _check_agg(payload: bytes, want: dict) -> str | None:
    doc = json.loads(payload)
    got = {}
    for res in doc.get("results", []):
        if "error" in res:
            return f"agg error {res['error']}"
        for s in res.get("series", []):
            region = s.get("tags", {}).get("region")
            cols = s["columns"]
            ti, mi, xi = cols.index("time"), cols.index("mean"), cols.index("max")
            for v in s["values"]:
                if v[mi] is None and v[xi] is None:
                    continue
                got[(region, int(v[ti]) // inputs.NS)] = (v[mi], v[xi])
    if set(got) != set(want):
        return f"agg buckets differ: {len(got)} returned, {len(want)} expected"
    for k, (m, x) in want.items():
        gm, gx = got[k]
        if not (np.isclose(gm, m, rtol=1e-9, atol=1e-9) and np.isclose(gx, x, rtol=0, atol=0)):
            return f"agg {k}: got mean/max {gm}/{gx}, want {m}/{x}"
    return None
