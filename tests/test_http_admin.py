"""Admin/debug HTTP surface (server.py ↔ http.rs admin/debug routes):
POST /admin/block drives the SAME limiter execute_sql consults; the debug
routes answer config, flush, log level, slow threshold, wal stats, and
the reference's cluster-only /debug/shards error."""

from __future__ import annotations

import json
import logging
import urllib.error
import urllib.request

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.server import EngineServer
from incubator_horaedb_spark.table import Table


@pytest.fixture()
def server(spark, tmp_path):
    srv = EngineServer(Engine(spark, str(tmp_path / "store"))).start()
    yield srv
    srv.stop()


def _req(srv, path, data=None, method=None):
    body = None
    if data is not None:
        body = data if isinstance(data, bytes) else json.dumps(data).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=body, method=method
    )
    with urllib.request.urlopen(req) as resp:
        raw = resp.read()
        ctype = resp.headers.get("content-type", "")
        return resp.status, json.loads(raw) if "json" in ctype else raw.decode()


def _sql(srv, query):
    return _req(srv, "/sql", {"query": query})[1]


def _mk_demo(srv):
    _sql(
        srv,
        "CREATE TABLE demo (name string TAG, value double NOT NULL, "
        "t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE=Analytic "
        "with(enable_ttl='false')",
    )
    _sql(srv, "insert into demo (name, value, t) values ('a', 1, 1683280523000)")


def test_admin_block_read_list_blocks_query(server):
    _mk_demo(server)
    st, resp = _req(
        server,
        "/admin/block",
        {
            "operation": "Add",
            "write_block_list": [],
            "read_block_list": ["demo"],
            "block_rules": [],
        },
    )
    assert st == 200 and resp["read_block_list"] == ["demo"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _sql(server, "select * from demo")
    assert e.value.code == 400
    body = json.loads(e.value.read())
    # limiter.rs Error::BlockedTable display parity
    assert "Table operation is blocked, table:demo, op:query" in body["error"]
    # writes unaffected by the READ list
    assert _sql(
        server, "insert into demo (name, value, t) values ('b', 2, 1683280524000)"
    ) == {"affected_rows": 1}
    # Remove unblocks
    st, resp = _req(
        server,
        "/admin/block",
        {
            "operation": "Remove",
            "write_block_list": [],
            "read_block_list": ["demo"],
            "block_rules": [],
        },
    )
    assert resp["read_block_list"] == []
    assert len(_sql(server, "select * from demo")["rows"]) == 2


def test_admin_block_rules_set_and_serde(server):
    _mk_demo(server)
    st, resp = _req(
        server,
        "/admin/block",
        {
            "operation": "Set",
            "write_block_list": ["w1"],
            "read_block_list": [],
            "block_rules": [
                {"type": "QueryRange", "content": "1h"},
                {"type": "AnyInsert"},
            ],
        },
    )
    assert resp["write_block_list"] == ["w1"]
    # QueryRange round-trips as milliseconds (serde serializes the i64)
    assert {"type": "QueryRange", "content": 3600000} in resp["block_rules"]
    assert {"type": "AnyInsert"} in resp["block_rules"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _sql(server, "insert into demo (name, value, t) values ('c', 3, 1683280525000)")
    assert "blocked by rule" in json.loads(e.value.read())["error"]
    # Set with empty payload clears everything
    _, resp = _req(
        server,
        "/admin/block",
        {"operation": "Set", "write_block_list": [], "read_block_list": [],
         "block_rules": []},
    )
    assert resp == {"write_block_list": [], "read_block_list": [], "block_rules": []}


def test_debug_config_and_wal_stats(server):
    _mk_demo(server)
    st, text = _req(server, "/debug/config")
    assert st == 200
    assert "slow_threshold_secs = 5" in text
    assert "spark.sql.shuffle.partitions" in text
    assert "demo" in text
    st, text = _req(server, "/debug/wal_stats")
    assert st == 200
    assert "[Data wal stats]:" in text and "[Manifest wal stats]:" in text
    assert "table=demo next_seq=" in text


def test_wal_stats_counts_partitioned_segments(server):
    # a PARTITION BY KEY table keeps its segments under __partition=P/;
    # every (partition, segment) leaf counts
    import os

    _sql(
        server,
        "CREATE TABLE pdemo (name string TAG, value double NOT NULL, "
        "t timestamp NOT NULL, TIMESTAMP KEY(t)) PARTITION BY KEY(name) PARTITIONS 4 "
        "ENGINE=Analytic with(enable_ttl='false', segment_duration='2h')",
    )
    values = ", ".join(
        f"('h{i}', {i}, {1683280523000 + s * 7_200_000})" for i in range(8) for s in range(2)
    )
    _sql(server, f"insert into pdemo (name, value, t) values {values}")
    data = server.engine.catalog.data_dir("pdemo")
    leaves = sum(
        len([s for s in os.listdir(f"{data}/{p}") if s.startswith("__segment=")])
        for p in os.listdir(data)
        if p.startswith("__partition=")
    )
    assert leaves > 2
    st, text = _req(server, "/debug/wal_stats")
    assert st == 200
    assert f"table=pdemo next_seq=2 segments={leaves}" in text


def test_debug_flush_memtable_compacts_tables(server):
    _mk_demo(server)
    _sql(server, "insert into demo (name, value, t) values ('b', 2, 1683280524000)")
    st, resp = _req(server, "/debug/flush_memtable", data={}, method="POST")
    assert st == 200
    assert resp == {"success": ["demo"], "failed": []}
    # table still reads correctly after the maintenance pass
    assert len(_sql(server, "select * from demo")["rows"]) == 2


def test_debug_flush_memtable_reports_failed_compact(server, monkeypatch, caplog):
    """A table whose compact() raises is answered in "failed" and logged
    once with its name and the error; the other tables still compact."""
    _mk_demo(server)
    _sql(
        server,
        "CREATE TABLE other (name string TAG, value double NOT NULL, "
        "t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE=Analytic with(enable_ttl='false')",
    )
    real = Table.compact

    def compact(self, *a, **k):
        if self.name == "demo":
            raise IOError("disk full")
        return real(self, *a, **k)

    monkeypatch.setattr(Table, "compact", compact)
    with caplog.at_level(logging.WARNING, logger="incubator_horaedb_spark.server"):
        st, resp = _req(server, "/debug/flush_memtable", data={}, method="POST")
    assert st == 200
    assert resp == {"success": ["other"], "failed": ["demo"]}
    logged = [r.getMessage() for r in caplog.records if "flush_memtable" in r.getMessage()]
    assert len(logged) == 1
    assert "'demo'" in logged[0] and "disk full" in logged[0]


def test_debug_log_level_and_slow_threshold(server):
    st, resp = _req(server, "/debug/log_level/warn", data=b"", method="PUT")
    assert (st, resp) == (200, "warn")
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(server, "/debug/log_level/nope", data=b"", method="PUT")
    assert e.value.code == 400
    st, text = _req(server, "/debug/slow_threshold/9", data=b"", method="PUT")
    assert (st, text) == (200, "current_slow_threshold:9s")
    assert server.slow_threshold_secs == 9
    # PUT routes on the query-stripped path (do_GET parity)
    st, text = _req(server, "/debug/slow_threshold/7?source=ui", data=b"", method="PUT")
    assert (st, text) == (200, "current_slow_threshold:7s")
    st, resp = _req(server, "/debug/log_level/info?x=1", data=b"", method="PUT")
    assert (st, resp) == (200, "info")
    # negatives are a 400 like the reference's u64 route parse, never a
    # threshold that marks every query slow
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(server, "/debug/slow_threshold/-5", data=b"", method="PUT")
    assert e.value.code == 400
    assert server.slow_threshold_secs == 7


def test_debug_shards_standalone_error(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(server, "/debug/shards")
    assert e.value.code == 400
    assert "only supported in cluster mode" in json.loads(e.value.read())["error"]


def test_debug_profile_cpu_and_heap(server):
    # /debug/profile/{cpu,heap}/{seconds} return REAL in-process profiles
    # (VERDICT r10 #8): a wall-stack sampler and a tracemalloc window
    import threading
    import time

    stop = threading.Event()

    def _busy():  # a thread the cpu sampler must catch by name
        while not stop.is_set():
            sum(i * i for i in range(1000))
            time.sleep(0.001)

    t = threading.Thread(target=_busy, name="prof-target", daemon=True)
    t.start()
    try:
        st, text = _req(server, "/debug/profile/cpu/1")
    finally:
        stop.set()
        t.join()
    assert st == 200 and "cpu profile: 1s" in text
    assert "_busy" in text  # the sampled stack names the running function
    st, text = _req(server, "/debug/profile/heap/1")
    assert st == 200 and "heap profile: 1s" in text and "size=" in text
    # malformed forms stay clear rejections
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(server, "/debug/profile/cpu/0")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(server, "/debug/profile/flame/5")
    assert e.value.code == 400
    assert "usage:" in json.loads(e.value.read())["error"]


# --- file-backed Basic auth (auth.AuthWithFile) ------------------------------


def test_auth_with_file(tmp_path):
    import base64

    from incubator_horaedb_spark.auth import AuthWithFile

    cred = tmp_path / "users.csv"
    cred.write_text("alice,secret\nbob,hunter2\n")
    auth = AuthWithFile(True, str(cred))
    auth.load_credential()

    def hdr(user, pw):
        return "Basic " + base64.b64encode(f"{user}:{pw}".encode()).decode()

    assert auth.identify(hdr("alice", "secret"))
    assert auth.identify(hdr("bob", "hunter2"))
    assert not auth.identify(hdr("alice", "wrong"))
    assert not auth.identify(hdr("carol", "secret"))
    assert not auth.identify(None)
    assert not auth.identify("Bearer xyz")
    assert not auth.identify("Basic not-base64!!")
    # scheme is a PREFIX match: a non-Basic scheme smuggling a valid
    # Basic blob later in the value must NOT authenticate
    assert not auth.identify("Bearer " + hdr("alice", "secret"))
    # non-ASCII passwords authenticate (ADVICE r11: compare_digest on str
    # raises TypeError for non-ASCII — the compare must run on UTF-8
    # bytes, never abort the connection)
    uni = tmp_path / "uni.csv"
    uni.write_text("dana,pässwörd✓\n")
    a2 = AuthWithFile(True, str(uni))
    a2.load_credential()
    assert a2.identify(hdr("dana", "pässwörd✓"))
    assert not a2.identify(hdr("dana", "password"))
    # a non-ASCII SUPPLIED password against an ASCII store → clean reject
    assert not auth.identify(hdr("alice", "pässwörd"))
    # unknown user with a non-ASCII password → clean reject, no exception
    assert not a2.identify(hdr("nobody", "pässwörd✓"))
    # disabled auth admits everything, and load is a no-op (with_file.rs)
    off = AuthWithFile(False, "/nonexistent")
    off.load_credential()
    assert off.identify(None)
    # enabled + missing file is a loud error
    with pytest.raises(FileNotFoundError):
        AuthWithFile(True, str(tmp_path / "missing.csv")).load_credential()
    with pytest.raises(ValueError):
        bad = tmp_path / "bad.csv"
        bad.write_text("no-comma-line\n")
        AuthWithFile(True, str(bad)).load_credential()
    # CRLF files load cleanly (no trailing \r in passwords, no phantom
    # final line)
    crlf = tmp_path / "crlf.csv"
    crlf.write_bytes(b"dora,pw1\r\nemil,pw2\r\n")
    a2 = AuthWithFile(True, str(crlf))
    a2.load_credential()
    assert a2.users == {"dora": "pw1", "emil": "pw2"}
    assert a2.identify(hdr("dora", "pw1"))
    # re-load REPLACES the credential set: a user removed from the file
    # is revoked on the next load
    crlf.write_bytes(b"emil,pw2\n")
    a2.load_credential()
    assert not a2.identify(hdr("dora", "pw1"))
    assert a2.identify(hdr("emil", "pw2"))


def test_server_enforces_basic_auth(spark, tmp_path):
    import base64

    from incubator_horaedb_spark.auth import AuthWithFile

    cred = tmp_path / "users.csv"
    cred.write_text("alice,secret\n")
    auth = AuthWithFile(True, str(cred))
    auth.load_credential()
    srv = EngineServer(Engine(spark, str(tmp_path / "store")), auth=auth).start()
    try:
        url = f"http://127.0.0.1:{srv.port}/health"
        # no header -> 401 with the Basic challenge
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(url)
        assert e.value.code == 401
        assert e.value.headers.get("www-authenticate") == 'Basic realm="horaedb"'
        # wrong password -> 401; POST /sql equally protected
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/sql",
            data=json.dumps({"query": "SHOW TABLES"}).encode(),
            headers={"authorization": "Basic "
                     + base64.b64encode(b"alice:wrong").decode()},
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 401
        # correct credentials -> 200 on both verbs
        ok = {"authorization": "Basic " + base64.b64encode(b"alice:secret").decode()}
        with urllib.request.urlopen(urllib.request.Request(url, headers=ok)) as r:
            assert r.status == 200
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/sql",
            data=json.dumps({"query": "SHOW TABLES"}).encode(), headers=ok,
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
    finally:
        srv.stop()
