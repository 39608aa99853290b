"""End-to-end HTTP serving layer (server.py): the reference's primary
entry points driven over a real socket — POST /sql with the
mysql/basic.sh statement sequence, line-protocol and OpenTSDB writes,
concurrent-query dedup.  ``sql_response`` selects again only a result
with a timestamp column, whose values it sends as ms epochs.
"""

from __future__ import annotations

import json
import urllib.request

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.server import EngineServer, sql_response


@pytest.fixture()
def server(spark, tmp_path):
    srv = EngineServer(Engine(spark, str(tmp_path / "store"))).start()
    yield srv
    srv.stop()


def _post(srv, path, payload):
    data = payload if isinstance(payload, bytes) else json.dumps(payload).encode()
    req = urllib.request.Request(f"http://127.0.0.1:{srv.port}{path}", data=data)
    with urllib.request.urlopen(req) as resp:
        body = resp.read()
        return resp.status, json.loads(body) if body else None


def _sql(srv, query):
    return _post(srv, "/sql", {"query": query})[1]


def test_sql_roundtrip_mysql_basic_sh(server):
    # integration_tests/mysql/basic.sh sequence over HTTP (the /sql route
    # speaks the same engine the MySQL wire adapter would delegate to)
    assert _sql(server, "SHOW TABLES") == {"rows": []}
    assert _sql(
        server,
        "CREATE TABLE `demo`(`name` string TAG, `id` int TAG, `value` double NOT NULL, "
        "`t` timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic with(enable_ttl='false')",
    ) == {"affected_rows": 0}
    assert _sql(
        server,
        "insert into demo (name, value, t) values ('horaedb', 1, 1683280523000)",
    ) == {"affected_rows": 1}
    rows = _sql(server, "select name, value, t from demo")["rows"]
    assert rows == [{"name": "horaedb", "value": 1.0, "t": 1683280523000}]
    assert _sql(server, "SHOW TABLES") == {"rows": [{"table_name": "demo"}]}


def test_sql_error_is_400(server):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/sql",
        data=json.dumps({"query": "SELEKT nope"}).encode(),
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 400
    assert "error" in json.loads(e.value.read())


def test_influx_write_then_query(server):
    # timestamps must be recent: auto-created tables carry the reference's
    # default 7-day TTL (table_options.rs:60) enforced at read time
    import time

    t0 = int(time.time() * 1000) - 60_000
    lp = (
        f"cpu,host=a usage=0.5 {t0 * 1_000_000}\n"
        f"cpu,host=b usage=0.75 {(t0 + 1000) * 1_000_000}\n"
    )
    status, _ = _post(server, "/influxdb/v1/write", lp.encode())
    assert status == 204
    rows = _sql(server, "select host, usage, ts from cpu")["rows"]
    assert sorted(r["host"] for r in rows) == ["a", "b"]
    assert {r["ts"] for r in rows} == {t0, t0 + 1000}


def test_opentsdb_put_then_query(server):
    import time

    t0 = int(time.time()) - 60
    put = [
        {"metric": "sys.load", "timestamp": t0, "value": 1.5, "tags": {"dc": "x"}},
        {"metric": "sys.load", "timestamp": t0 + 60, "value": 2.5, "tags": {"dc": "x"}},
    ]
    status, _ = _post(server, "/opentsdb/api/put", put)
    assert status == 204
    rows = _sql(server, "select dc, value, ts from `sys.load`")["rows"]
    assert [r["value"] for r in sorted(rows, key=lambda r: r["ts"])] == [1.5, 2.5]


def test_concurrent_identical_query_dedup(server):
    import threading

    _sql(
        server,
        "CREATE TABLE dd (`t` timestamp NOT NULL, v double, TIMESTAMP KEY(t)) "
        "ENGINE=Analytic WITH(enable_ttl='false')",
    )
    _sql(server, "insert into dd (t, v) values (1, 1.0), (2, 2.0)")
    results = []

    def go():
        results.append(_sql(server, "select count(v) AS n from dd"))

    threads = [threading.Thread(target=go) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(r == {"rows": [{"n": 2}]} for r in results)
    # read.rs:89-165 parity: concurrent identical SQL shares executions
    assert server.dedup.executed < 6


def test_prom_remote_write_read_roundtrip(server):
    # JSON rendering of the remote WriteRequest/ReadRequest messages
    # (prom/remote-query.py behavior: label match + time range, raw samples)
    import time

    t0 = int(time.time() * 1000) - 120_000
    write = [
        {
            "labels": {"__name__": "http_requests", "job": "api", "inst": "a"},
            "samples": [[t0, 1.0], [t0 + 60_000, 2.0]],
        },
        {
            "labels": {"__name__": "http_requests", "job": "web", "inst": "b"},
            "samples": [[t0, 5.0]],
        },
    ]
    status, _ = _post(server, "/prom/v1/write", write)
    assert status == 204

    read = {
        "queries": [
            {
                "metric": "http_requests",
                "matchers": [["job", "=", "api"]],
                "start_ms": t0,
                "end_ms": t0 + 120_000,
            }
        ]
    }
    _, out = _post(server, "/prom/v1/read", read)
    assert len(out["results"]) == 1
    (series,) = out["results"][0]
    assert series["labels"] == {"job": "api", "inst": "a"}
    assert series["samples"] == [[t0, 1.0], [t0 + 60_000, 2.0]]

def test_metrics_route_prometheus_exposition(server):
    """GET /metrics (http.rs:532-536 parity): Prometheus text exposition
    with the reference's http_handler_duration{path, code} histogram
    (exponential buckets 0.01*2^k) plus serving counters."""
    # traffic to count: one write statement, one read, one influx write
    _post(server, "/sql", {"query": (
        "CREATE TABLE mtest (k string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY(t)) WITH (enable_ttl='false')")})
    _post(server, "/sql", {"query": "insert into mtest (k, v, t) values ('a', 1.0, 1691116127622)"})
    _post(server, "/sql", {"query": "select count(*) as n from mtest"})
    _post(server, "/influxdb/v1/write", b"m1,k=a value=1.5 1691116127622000000")
    req = urllib.request.Request(f"http://127.0.0.1:{server.port}/metrics")
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
        assert "text/plain" in resp.headers["content-type"]
        text = resp.read().decode()
    # histogram family with reference bucket layout and (path, code) labels
    assert "# TYPE http_handler_duration histogram" in text
    assert 'http_handler_duration_bucket{path="/sql",code="200",le="0.01"}' in text
    assert 'le="163.84"' in text and 'le="+Inf"' in text
    assert 'http_handler_duration_count{path="/sql",code="200"} 3' in text
    # serving counters
    assert 'sql_queries_total{kind="read"} 1' in text
    assert 'sql_queries_total{kind="write"} 2' in text
    assert 'write_rows_total{protocol="influxdb"} 1' in text
    # scrape again: the /metrics request itself is now observed
    with urllib.request.urlopen(req) as resp:
        text2 = resp.read().decode()
    assert 'http_handler_duration_count{path="/metrics",code="200"} 1' in text2


def test_sql_response_selects_only_for_timestamps(spark, monkeypatch):
    plain = spark.createDataFrame([("a", 1)], "k string, n bigint")
    stamped = spark.sql("SELECT 'a' AS k, timestamp_millis(1683280523000) AS t")
    selects = []
    frame = type(plain)
    select = frame.select
    monkeypatch.setattr(
        frame, "select", lambda self, *cols: selects.append(cols) or select(self, *cols)
    )
    assert sql_response(plain) == {"rows": [{"k": "a", "n": 1}]}
    assert selects == []
    assert sql_response(stamped) == {"rows": [{"k": "a", "t": 1683280523000}]}
    assert len(selects) == 1
