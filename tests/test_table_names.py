"""Table names a protocol write can create: the line-protocol parser accepts
any measurement text, so a table name may hold characters that are not
valid in a Spark view name (``-``, ``;``, ``[``, spaces), Hadoop glob
characters (``[``, ``{``, ``*``) or path separators.  A name that is one
path component keeps the table readable, compactable and queryable without
breaking SQL on any other table; one that is not is refused before the
write is acknowledged."""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.server import EngineServer
from incubator_horaedb_spark.streaming.ingest import ingest_rows

SEG_MS = 2 * 3600 * 1000
T0 = (int(time.time() * 1000) // SEG_MS - 1) * SEG_MS  # one segment, inside the TTL


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _write(engine, name: str, n: int = 5, t0: int = T0) -> None:
    rows = [{"ts": t0 + j, "host": f"h{j}", "v": float(j)} for j in range(n)]
    ingest_rows(engine, name, rows, tag_cols=["host"])


def _sql(engine, stmt: str) -> list[tuple]:
    return [tuple(r) for r in engine.execute_sql(stmt).collect()]


def test_view_unsafe_table_names_leave_sql_working(engine):
    _write(engine, "cpu")
    # quoted characters that would read as syntax outside the backticks
    names = ("disk-io", "cpu;x", "mem usage", "sys.load", "a--b'(c, d")
    for name in names:
        _write(engine, name, n=3)
    assert _sql(engine, "SELECT 1") == [(1,)]
    assert _sql(engine, "SELECT count(*) FROM cpu") == [(5,)]
    for name in names:
        assert _sql(engine, f"SELECT count(*) FROM `{name}`") == [(3,)]


def test_view_name_encoding_is_reversible():
    for name in ("cpu", "disk-io", "cpu;x", "sys.load", "a b", "cpu[1]", "é", "__hex_41", "_x1"):
        view = Engine._view_name(name)
        assert view.replace("_", "a").isalnum() and view.isascii()
        assert Engine._table_name(view) == name
    assert Engine._view_name("cpu") == "cpu"


@pytest.mark.parametrize("name", ["../escaped", "a/b", "..", ".", "", "a\\b", "a\0b"])
def test_name_that_is_not_one_path_component_is_refused(engine, tmp_path, name):
    with pytest.raises(ValueError, match="invalid table name"):
        _write(engine, name)
    assert sorted(os.listdir(tmp_path / "store")) == ["public"]
    assert engine.catalog.list_tables() == []


def test_path_escape_over_http_is_a_400(engine, tmp_path):
    srv = EngineServer(engine, port=0).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/influxdb/v1/write",
            data=f"../escaped,host=a v=1 {T0 * 1_000_000}\n".encode(),
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req, timeout=60)
        assert e.value.code == 400
        assert "invalid table name" in json.loads(e.value.read())["error"]
    finally:
        srv.stop()
    assert sorted(os.listdir(tmp_path / "store")) == ["public"]
    assert os.listdir(tmp_path / "store" / "public") == []


@pytest.mark.parametrize("name", ["cpu[1]", "m{a,b}*?"])
def test_glob_characters_in_a_name_keep_the_table_readable(engine, name):
    _write(engine, name)
    _write(engine, name, t0=T0 + 1000)
    tbl = engine.table(name)
    assert tbl.read().count() == 10
    assert _sql(engine, f"SELECT count(*) FROM `{name}`") == [(10,)]
    assert tbl.compact() == 1
    assert len(engine.catalog.files(name)[1]) == 1
    assert tbl.read().count() == 10
    assert _sql(engine, "SELECT 1") == [(1,)]
