"""Status API endpoint parity tests (SURVEY §2.8)."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

from syncflux_spark.streaming.monitor import HAMonitor
from syncflux_spark.webui import StatusServer


@pytest.fixture()
def server():
    slave_alive = {"v": True}
    monitor = HAMonitor(
        master_probe=lambda: True, slave_probe=lambda: slave_alive["v"]
    )
    monitor.check_once()
    srv = StatusServer(monitor, port=0, admin_user="admin", admin_passwd="pw")
    port = srv.start()
    yield srv, port, slave_alive, monitor
    srv.stop()


def _get(port, path, headers=None):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", headers=headers or {})
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read().decode(), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode(), dict(e.headers)


def _post(port, path, payload=None, headers=None):
    data = json.dumps(payload).encode() if payload is not None else b""
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, headers=headers or {}
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read().decode(), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode(), dict(e.headers)


class TestEndpoints:
    def test_health(self, server):
        _, port, _, _ = server
        code, body, _ = _get(port, "/api/health/")
        assert code == 200
        st = json.loads(body)
        assert st["cluster_state"] == "OK"
        assert st["master_state"] is True

    def test_health_id_stub(self, server):
        _, port, _, _ = server
        code, body, _ = _get(port, "/api/health/42")
        assert (code, body) == (200, "hola")  # api.go:47-51 parity

    def test_queryactive_reflects_liveness(self, server):
        _, port, slave_alive, monitor = server
        code, body, _ = _get(port, "/api/queryactive")
        assert code == 200 and json.loads(body) == ["master", "slave"]
        slave_alive["v"] = False
        monitor.check_once()
        _, body, _ = _get(port, "/api/queryactive")
        assert json.loads(body) == ["master"]

    def test_action_requires_auth(self, server):
        _, port, _, _ = server
        code, _, _ = _post(port, "/api/action/1")
        assert code == 401
        # login → cookie → authorized
        code, _, headers = _post(
            port, "/login", {"username": "admin", "password": "pw"}
        )
        assert code == 200
        cookie = headers["Set-Cookie"].split(";")[0]
        code, body, _ = _post(port, "/api/action/1", headers={"Cookie": cookie})
        assert (code, body) == (200, "hola")
        # logout invalidates
        _post(port, "/logout", headers={"Cookie": cookie})
        code, _, _ = _post(port, "/api/action/1", headers={"Cookie": cookie})
        assert code == 401

    def test_bad_login(self, server):
        _, port, _, _ = server
        code, _, _ = _post(port, "/login", {"username": "admin", "password": "no"})
        assert code == 401

    def test_404(self, server):
        _, port, _, _ = server
        code, _, _ = _get(port, "/nope")
        assert code == 404


class TestQueryEndpoint:
    """InfluxDB 1.x /query parity: the JSON shape the reference's
    DBclient decodes (pkg/agent/client.go:383-478) and its health
    probe issues (`show databases`, influxmonitor.go:48-94)."""

    @pytest.fixture()
    def qserver(self, spark, events):
        from syncflux_spark.influxql import InfluxQLEngine

        monitor = HAMonitor(master_probe=lambda: True, slave_probe=lambda: True)
        monitor.check_once()
        eng = InfluxQLEngine(
            spark,
            tables={"events": events},
            tags={"events": ["event_type", "user_id"]},
        )
        srv = StatusServer(monitor, port=0, query_engine=eng, max_query_rows=50)
        port = srv.start()
        yield port
        srv.stop()

    def test_select_shape(self, qserver):
        # GROUP BY <tag> answers one series PER TAG COMBINATION with a
        # 'tags' object, tag columns excluded from columns/values — the
        # shape ReadDB rebuilds points from (client.go:392-393,471); a
        # tag left in 'columns' would be written back as a field.
        q = urllib.parse.quote(
            "select count(value) as n from events group by event_type"
        )
        code, body, _ = _get(qserver, f"/query?q={q}")
        assert code == 200
        res = json.loads(body)["results"][0]
        assert res["statement_id"] == 0
        series = res["series"]
        assert len(series) == 5
        for s in series:
            assert s["name"] == "events"
            assert list(s["tags"]) == ["event_type"]
            assert s["columns"] == ["n"]
            assert len(s["values"]) == 1 and s["values"][0][0] > 0
        tag_vals = [s["tags"]["event_type"] for s in series]
        assert tag_vals == sorted(tag_vals)

    def test_sync_scan_template_series_shape(self, qserver):
        # the reference's exact read-side statement (sync.go:162):
        # raw select with GROUP BY * → tags hoisted per-series, never
        # left among the value columns
        q = urllib.parse.quote(
            'select * from "events" where time > 0s and '
            "time < 4102444800s group by *"
        )
        code, body, _ = _get(qserver, f"/query?q={q}")
        assert code == 200
        series = json.loads(body)["results"][0]["series"]
        assert len(series) > 1
        for s in series:
            assert set(s["tags"]) == {"event_type", "user_id"}
            assert "event_type" not in s["columns"]
            assert "user_id" not in s["columns"]
            assert "time" in s["columns"]

    def test_show_databases_probe(self, qserver):
        # the reference's liveness probe statement (influxmonitor.go:48-94)
        code, body, _ = _get(qserver, "/query?q=show%20databases")
        assert code == 200
        s = json.loads(body)["results"][0]["series"][0]
        assert s["name"] == "databases"
        assert ["events"] in s["values"]

    def test_post_form_body(self, qserver):
        data = urllib.parse.urlencode(
            {"q": "select count(value) as n from events"}
        ).encode()
        req = urllib.request.Request(f"http://127.0.0.1:{qserver}/query", data=data)
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            s = json.loads(r.read())["results"][0]["series"][0]
        assert s["columns"] == ["n"]

    def test_row_cap(self, qserver):
        q = urllib.parse.quote("select value from events")
        _, body, _ = _get(qserver, f"/query?q={q}")
        s = json.loads(body)["results"][0]["series"][0]
        assert len(s["values"]) == 50  # max_query_rows cap

    def test_parse_error_shape(self, qserver):
        q = urllib.parse.quote("select from where")
        code, body, _ = _get(qserver, f"/query?q={q}")
        assert code == 400 and "error" in json.loads(body)

    def test_missing_q(self, qserver):
        code, body, _ = _get(qserver, "/query")
        assert code == 400

    def test_multi_statement(self, qserver):
        q = urllib.parse.quote(
            "show databases; select count(value) as n from events"
        )
        code, body, _ = _get(qserver, f"/query?q={q}")
        assert code == 200
        res = json.loads(body)["results"]
        assert [r["statement_id"] for r in res] == [0, 1]
        assert res[0]["series"][0]["name"] == "databases"
        assert res[1]["series"][0]["columns"] == ["n"]

    def test_multi_statement_partial_error(self, qserver):
        q = urllib.parse.quote("show databases; select bogus syntax from")
        code, body, _ = _get(qserver, f"/query?q={q}")
        assert code == 200
        res = json.loads(body)["results"]
        assert "series" in res[0] and "error" in res[1]


class TestWriteEndpoint:
    """InfluxDB 1.x /write parity: the receiving end of the
    reference's WriteDB (client.go:531-559 posts these bodies)."""

    @pytest.fixture()
    def wserver(self, spark, tmp_path):
        from syncflux_spark.sources.line_protocol import LineProtocolSink

        monitor = HAMonitor(master_probe=lambda: True, slave_probe=lambda: True)
        monitor.check_once()
        sink = LineProtocolSink(
            spark,
            str(tmp_path),
            {"cpu": (["host", "dc"], {"usage": "float", "n": "integer"})},
        )
        srv = StatusServer(monitor, port=0, write_sink=sink)
        port = srv.start()
        yield port, sink
        srv.stop()

    @staticmethod
    def _write(port, body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/write", data=body.encode()
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, dict(r.headers)
        except urllib.error.HTTPError as e:
            return e.code, dict(e.headers)

    def test_write_roundtrip(self, wserver):
        port, sink = wserver
        body = (
            "cpu,host=h1,dc=eu usage=0.5,n=3i 1000000000\n"
            "cpu,host=h2,dc=us usage=0.75 2000000000\n"
        )
        code, headers = self._write(port, body)
        assert code == 204
        assert headers["X-Points-Written"] == "2"
        back = sink.read_measurement("cpu").orderBy("ts_ns").collect()
        assert [(r.host, r.dc, r.usage, r.n, r.ts_ns) for r in back] == [
            ("h1", "eu", 0.5, 3, 1000000000),
            ("h2", "us", 0.75, None, 2000000000),
        ]

    def test_write_appends(self, wserver):
        port, sink = wserver
        self._write(port, "cpu,host=h1,dc=eu usage=1.0 1000000000")
        self._write(port, "cpu,host=h1,dc=eu usage=2.0 2000000000")
        assert sink.read_measurement("cpu").count() == 2

    def test_concurrent_writes_keep_acknowledged_points(self, wserver):
        """Concurrent /write requests into one measurement: every
        acknowledged point is readable afterwards (two appends must
        never share one output-committer directory)."""
        from concurrent.futures import ThreadPoolExecutor

        port, sink = wserver

        def write(i):
            body = "\n".join(
                f"cpu,host=h{i},dc=eu usage={j}.0 {i * 1000 + j + 1}"
                for j in range(50)
            )
            code, headers = self._write(port, body)
            return int(headers["X-Points-Written"]) if code == 204 else 0

        with ThreadPoolExecutor(max_workers=6) as pool:
            acked = sum(pool.map(write, range(12)))
        assert acked > 0
        assert sink.read_measurement("cpu").count() == acked

    def test_unknown_measurement_400(self, wserver):
        port, _ = wserver
        code, _ = self._write(port, "mem,host=h1 used=1.0 1000000000")
        assert code == 400

    def test_missing_timestamp_400(self, wserver):
        port, _ = wserver
        code, _ = self._write(port, "cpu,host=h1,dc=eu usage=1.0")
        assert code == 400

    def test_precision_param_scales_timestamps(self, wserver):
        port, sink = wserver
        # same instant written three ways; all must land at the
        # identical ns epoch
        self._write_url(
            port, "precision=s", "cpu,host=h1,dc=eu usage=1.0 1700000000"
        )
        self._write_url(
            port, "precision=ms", "cpu,host=h2,dc=eu usage=2.0 1700000000000"
        )
        self._write_url(
            port, "precision=u", "cpu,host=h3,dc=eu usage=3.0 1700000000000000"
        )
        back = sink.read_measurement("cpu").collect()
        assert {r.ts_ns for r in back} == {1700000000 * 10**9}

    def test_bad_precision_400(self, wserver):
        port, _ = wserver
        code, _ = self._write_url(
            port, "precision=fortnights", "cpu,host=h1,dc=eu usage=1.0 1"
        )
        assert code == 400

    def test_gzip_body(self, wserver):
        import gzip

        port, sink = wserver
        body = gzip.compress(b"cpu,host=h1,dc=eu usage=9.5 1000000000")
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/write",
            data=body,
            headers={"Content-Encoding": "gzip"},
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 204
        assert sink.read_measurement("cpu").collect()[0].usage == 9.5

    def test_corrupt_gzip_400(self, wserver):
        port, _ = wserver
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/write",
            data=b"not gzip at all",
            headers={"Content-Encoding": "gzip"},
        )
        try:
            with urllib.request.urlopen(req) as r:
                code = r.status
        except urllib.error.HTTPError as e:
            code = e.code
        assert code == 400

    @staticmethod
    def _write_url(port, qs, body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/write?{qs}", data=body.encode()
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, dict(r.headers)
        except urllib.error.HTTPError as e:
            return e.code, dict(e.headers)

    def test_no_sink_503(self, server):
        _, port, _, _ = server
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/write", data=b"cpu usage=1 1"
        )
        try:
            with urllib.request.urlopen(req) as r:
                code = r.status
        except urllib.error.HTTPError as e:
            code = e.code
        assert code == 503


class TestEpochParam:
    """InfluxDB `epoch=` query param: time values scaled to the
    requested precision (default stays ns-epoch longs, the shape the
    reference's ns-precision client consumes, client.go:342,351)."""

    @pytest.fixture()
    def qserver(self, spark, events):
        from syncflux_spark.influxql import InfluxQLEngine

        monitor = HAMonitor(
            master_probe=lambda: True, slave_probe=lambda: True
        )
        monitor.check_once()
        eng = InfluxQLEngine(
            spark,
            tables={"events": events},
            tags={"events": ["event_type", "user_id"]},
        )
        srv = StatusServer(monitor, port=0, query_engine=eng, max_query_rows=50)
        port = srv.start()
        yield port
        srv.stop()

    def _series(self, port, epoch=None):
        q = urllib.parse.quote(
            "select count(value) as n from events "
            "where time >= '2024-01-08' and time < '2024-01-10' "
            "group by time(1d)"
        )
        url = f"/query?q={q}" + (f"&epoch={epoch}" if epoch else "")
        code, body, _ = _get(port, url)
        assert code == 200
        return json.loads(body)["results"][0]["series"][0]

    def test_epoch_scaling(self, qserver):
        ns = self._series(qserver)
        s = self._series(qserver, "s")
        ms = self._series(qserver, "ms")
        tix = ns["columns"].index("time")
        for vns, vs, vms in zip(ns["values"], s["values"], ms["values"]):
            assert vs[tix] == vns[tix] // 10**9
            assert vms[tix] == vns[tix] // 10**6
            assert vs[tix] % 86400 == 0  # daily buckets land on midnight

    def test_bad_epoch_rejected(self, qserver):
        q = urllib.parse.quote("select count(value) from events")
        code, body, _ = _get(qserver, f"/query?q={q}&epoch=fortnight")
        assert code == 400


class TestChunkedQuery:
    """/query?chunked=true: newline-delimited response documents with
    'partial' flags — InfluxDB 1.x's export protocol, which also
    bypasses max_query_rows (rows stream through toLocalIterator
    instead of a capped collect)."""

    @pytest.fixture()
    def qserver(self, spark, events):
        from syncflux_spark.influxql import InfluxQLEngine

        monitor = HAMonitor(master_probe=lambda: True, slave_probe=lambda: True)
        monitor.check_once()
        eng = InfluxQLEngine(
            spark,
            tables={"events": events},
            tags={"events": ["event_type", "user_id"]},
        )
        # tiny row cap: chunked must NOT be bound by it
        srv = StatusServer(monitor, port=0, query_engine=eng, max_query_rows=5)
        port = srv.start()
        yield port
        srv.stop()

    def test_streams_all_rows_past_the_cap(self, qserver, events):
        total = events.where("value is not null").count()
        q = urllib.parse.quote("select value from events")
        code, body, headers = _get(
            qserver, f"/query?q={q}&chunked=true&chunk_size=40"
        )
        assert code == 200
        docs = [json.loads(ln) for ln in body.splitlines() if ln]
        assert len(docs) > 1
        n = sum(
            len(s["values"])
            for d in docs
            for r in d["results"]
            for s in r["series"]
        )
        assert n == total  # NOT capped at max_query_rows=5
        # every document but the last is marked partial
        assert all(d["results"][0].get("partial") for d in docs[:-1])
        assert "partial" not in docs[-1]["results"][0]

    def test_tags_shape_preserved_per_chunk(self, qserver):
        q = urllib.parse.quote(
            "select count(value) as n from events group by event_type"
        )
        code, body, _ = _get(qserver, f"/query?q={q}&chunked=true")
        assert code == 200
        docs = [json.loads(ln) for ln in body.splitlines() if ln]
        assert len(docs) == 1  # 5 rows fit one chunk
        series = docs[0]["results"][0]["series"]
        assert len(series) == 5
        for s in series:
            assert "event_type" in s["tags"]
            assert s["columns"] == ["n"]

    def test_chunked_status_line_is_http11(self, qserver):
        """Chunked Transfer-Encoding only exists in HTTP/1.1; an
        HTTP/1.0 status line makes strict clients (Go net/http, curl)
        read the hex chunk-size framing as body bytes. Assert the raw
        status line — urllib masks the version by always decoding."""
        import socket

        q = urllib.parse.quote("select count(value) as n from events")
        with socket.create_connection(("127.0.0.1", qserver), timeout=30) as s:
            s.sendall(
                f"GET /query?q={q}&chunked=true HTTP/1.1\r\n"
                f"Host: 127.0.0.1\r\nConnection: close\r\n\r\n".encode()
            )
            raw = b""
            while True:
                part = s.recv(65536)
                if not part:
                    break
                raw += part
        head, _, rest = raw.partition(b"\r\n\r\n")
        status = head.split(b"\r\n", 1)[0]
        assert status.startswith(b"HTTP/1.1 200"), status
        assert b"transfer-encoding: chunked" in head.lower()
        # strict chunked decode of the framing we emitted
        body = b""
        while rest:
            size_line, _, rest = rest.partition(b"\r\n")
            size = int(size_line, 16)
            if size == 0:
                break
            body += rest[:size]
            assert rest[size : size + 2] == b"\r\n"
            rest = rest[size + 2 :]
        doc = json.loads(body)
        assert doc["results"][0]["series"][0]["columns"] == ["n"]

    def test_multi_statement_rejected(self, qserver):
        q = urllib.parse.quote("show databases; show measurements")
        code, body, _ = _get(qserver, f"/query?q={q}&chunked=true")
        assert code == 400

    def test_bad_query_errors_before_stream(self, qserver):
        q = urllib.parse.quote("select wat from")
        code, body, _ = _get(qserver, f"/query?q={q}&chunked=true")
        assert code == 400


class TestStaticAssets:
    """public_path-rooted static serving with index.html index
    (reference: macaron.Static, pkg/webui/webserver.go:81-95)."""

    @pytest.fixture()
    def static_server(self, tmp_path):
        pub = tmp_path / "public"
        (pub / "js").mkdir(parents=True)
        (pub / "index.html").write_text("<html>syncflux ui</html>")
        (pub / "js" / "app.js").write_text("console.log('ui')")
        (tmp_path / "secret.txt").write_text("outside the root")
        monitor = HAMonitor(
            master_probe=lambda: True, slave_probe=lambda: True
        )
        monitor.check_once()
        srv = StatusServer(monitor, port=0, public_path=str(pub))
        port = srv.start()
        yield port
        srv.stop()

    def test_root_serves_index(self, static_server):
        code, body, headers = _get(static_server, "/")
        assert code == 200
        assert "syncflux ui" in body
        assert headers["Content-Type"].startswith("text/html")

    def test_nested_asset(self, static_server):
        code, body, headers = _get(static_server, "/js/app.js")
        assert code == 200
        assert "console.log" in body
        assert "javascript" in headers["Content-Type"]

    def test_missing_asset_404(self, static_server):
        code, _, _ = _get(static_server, "/nope.css")
        assert code == 404

    def test_traversal_rejected(self, static_server):
        """Literal ../ must not escape the root — send the raw bytes
        (urllib normalizes dot segments before the wire)."""
        import socket

        for path in ("/../secret.txt", "/%2e%2e/secret.txt", "/js/../../secret.txt"):
            with socket.create_connection(
                ("127.0.0.1", static_server), timeout=10
            ) as s:
                s.sendall(
                    f"GET {path} HTTP/1.1\r\nHost: x\r\n"
                    f"Connection: close\r\n\r\n".encode()
                )
                raw = b""
                while True:
                    part = s.recv(65536)
                    if not part:
                        break
                    raw += part
            assert b"404" in raw.split(b"\r\n", 1)[0], (path, raw[:80])
            assert b"outside the root" not in raw

    def test_api_routes_win_over_static(self, static_server):
        code, body, _ = _get(static_server, "/api/health")
        assert code == 200
        assert "master" in body or "state" in body


class TestCsvGzipMetrics:
    """InfluxDB 1.x client conveniences: Accept: application/csv
    responses, gzip response encoding, and /metrics counters."""

    @pytest.fixture()
    def qserver(self, spark, events, tmp_path):
        from syncflux_spark.influxql import InfluxQLEngine
        from syncflux_spark.sources.line_protocol import LineProtocolSink

        monitor = HAMonitor(master_probe=lambda: True, slave_probe=lambda: True)
        monitor.check_once()
        eng = InfluxQLEngine(
            spark, tables={"events": events},
            tags={"events": ["event_type", "user_id"]},
        )
        sink = LineProtocolSink(
            spark, str(tmp_path), {"m": (["h"], {"v": "float"})}
        )
        srv = StatusServer(
            monitor, port=0, query_engine=eng, max_query_rows=50,
            write_sink=sink,
        )
        port = srv.start()
        yield srv, port
        srv.stop()

    def test_csv_response(self, qserver):
        import csv
        import io

        _, port = qserver
        q = urllib.parse.quote(
            "select count(value) as n from events group by event_type"
        )
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query?q={q}",
            headers={"Accept": "application/csv"},
        )
        with urllib.request.urlopen(req) as r:
            assert r.headers["Content-Type"] == "application/csv"
            rows = list(csv.reader(io.StringIO(r.read().decode())))
        headers = [row for row in rows if row and row[0] == "name"]
        data = [row for row in rows if row and row[0] == "events"]
        assert headers[0] == ["name", "tags", "n"]
        assert len(data) == 5
        assert all(row[1].startswith("event_type=") for row in data)

    def test_gzip_response(self, qserver):
        import gzip
        import io

        _, port = qserver
        q = urllib.parse.quote("select value from events")
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/query?q={q}",
            headers={"Accept-Encoding": "gzip"},
        )
        with urllib.request.urlopen(req) as r:
            assert r.headers.get("Content-Encoding") == "gzip"
            body = gzip.decompress(r.read()).decode()
        assert json.loads(body)["results"][0]["series"]

    def test_metrics_counters(self, qserver):
        srv, port = qserver
        q = urllib.parse.quote("select count(value) from events")
        _get(port, f"/query?q={q}")
        _get(port, "/query?q=" + urllib.parse.quote("select wat from"))
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/write",
            data=b"m,h=a v=1.5 1700000000000000000",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 204
        code, body, headers = _get(port, "/metrics")
        assert code == 200
        assert headers["Content-Type"].startswith("text/plain")
        metrics = {
            ln.split(" ")[0]: float(ln.split(" ")[1])
            for ln in body.splitlines()
            if ln and not ln.startswith("#")
        }
        assert metrics["syncflux_queries_total"] >= 2
        assert metrics["syncflux_query_errors_total"] >= 1
        assert metrics["syncflux_points_written_total"] >= 1
        assert metrics["syncflux_cluster_up"] == 1


class TestPing:
    def test_ping_204_with_version(self, server):
        import http.client

        _, port, _, _ = server
        for method in ("GET", "HEAD"):
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
            conn.request(method, "/ping")
            r = conn.getresponse()
            assert r.status == 204
            assert "syncflux" in r.headers["X-Influxdb-Version"]
            conn.close()


class TestUnsignedFields:
    """InfluxDB unsigned fields arrive as decimal(20,0) columns; /query
    answers them as exact JSON integers, chunked or not."""

    @pytest.fixture()
    def userver(self, spark):
        from syncflux_spark.influxql import InfluxQLEngine

        monitor = HAMonitor(master_probe=lambda: True, slave_probe=lambda: True)
        monitor.check_once()
        df = spark.sql(
            "SELECT 'h1' AS host, CAST(1700000000000000000 AS BIGINT) AS ts_ns, "
            "CAST('18446744073709551615' AS DECIMAL(20,0)) AS f_uint "
            "UNION ALL SELECT 'h2', CAST(1700000001000000000 AS BIGINT), "
            "CAST(7 AS DECIMAL(20,0))"
        )
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": ["host"]})
        srv = StatusServer(monitor, port=0, query_engine=eng)
        port = srv.start()
        yield port
        srv.stop()

    @staticmethod
    def _uints(docs):
        out = []
        for d in docs:
            for s in d["results"][0]["series"]:
                i = s["columns"].index("f_uint")
                out += [v[i] for v in s["values"]]
        return sorted(out)

    @pytest.mark.parametrize("chunked", [False, True])
    def test_select_star_over_unsigned(self, userver, chunked):
        q = urllib.parse.quote("SELECT * FROM m")
        suffix = "&chunked=true" if chunked else ""
        code, body, _ = _get(userver, f"/query?q={q}{suffix}")
        assert code == 200
        docs = [json.loads(ln) for ln in body.splitlines() if ln]
        assert self._uints(docs) == [7, 18446744073709551615]
