"""The request write path: each protocol request and each INSERT/COPY/LOAD
batch is one Arrow-backed local relation (``table.batch_frame``), written
by one task as one parquet file per segment it touches.

Also the batch's typing rules: a column's kind is picked over all its
rows (int64 and double widen to double, any other mix is rejected), and
no value is silently truncated on its way into Arrow.
"""

from __future__ import annotations

import os
import time

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.server import EngineServer
from incubator_horaedb_spark.table import Table

HOUR_NS = 3_600_000_000_000
T0_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z, a 2h-segment boundary


@pytest.fixture()
def server(spark, tmp_path):
    return EngineServer(Engine(spark, str(tmp_path / "store")))


def _cpu_lines(n: int, t0_ns: int, step_ns: int = 1_000_000_000) -> str:
    return "\n".join(
        f"cpu,host=h{i % 50:02d} usage={i * 0.5},idle={i}i {t0_ns + (i // 50) * step_ns}"
        for i in range(n)
    )


def _files_by_segment(engine: Engine, table: str) -> dict[str, int]:
    data = engine.catalog.data_dir(table)
    out: dict[str, int] = {}
    for seg in os.listdir(data):
        if seg.startswith("__segment="):
            out[seg] = sum(f.endswith(".parquet") for f in os.listdir(os.path.join(data, seg)))
    return out


def _added(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {s: n - before.get(s, 0) for s, n in after.items() if n != before.get(s, 0)}


def _capture_writes(monkeypatch) -> list:
    """Record every frame handed to Table.write."""
    frames = []
    orig = Table.write

    def write(self, df):
        frames.append(df)
        return orig(self, df)

    monkeypatch.setattr(Table, "write", write)
    return frames


def _create_cpu(engine: Engine) -> None:
    engine.execute_sql(
        "CREATE TABLE cpu (host string TAG, usage double, idle bigint, "
        "ts timestamp NOT NULL, TIMESTAMP KEY(ts)) ENGINE=Analytic "
        "WITH(enable_ttl='false', segment_duration='2h')"
    )


def test_line_protocol_write_adds_one_file_per_segment(server):
    engine = server.engine
    _create_cpu(engine)
    server.handle_line_protocol(_cpu_lines(50, T0_NS))
    before = _files_by_segment(engine, "cpu")
    server.handle_line_protocol(_cpu_lines(1000, T0_NS + 60_000_000_000))
    assert list(_added(before, _files_by_segment(engine, "cpu")).values()) == [1]
    assert engine.execute_sql("SELECT count(*) AS n FROM cpu").collect()[0]["n"] == 1050


def test_request_spanning_two_segments_adds_two_files(server):
    engine = server.engine
    _create_cpu(engine)
    # 20 points 6 minutes apart from 1h in: the request crosses the 2h
    # segment boundary
    server.handle_line_protocol(_cpu_lines(1000, T0_NS + HOUR_NS, step_ns=HOUR_NS // 10))
    added = _files_by_segment(engine, "cpu")
    assert len(added) == 2 and set(added.values()) == {1}
    assert engine.execute_sql("SELECT count(*) AS n FROM cpu").collect()[0]["n"] == 1000


def test_batch_frames_are_local_relations(server, monkeypatch):
    # a return to createDataFrame over Python rows shows up as an RDD scan
    frames = _capture_writes(monkeypatch)
    server.handle_line_protocol(_cpu_lines(200, T0_NS))
    engine = server.engine
    engine.execute_sql(
        "CREATE TABLE t (h string TAG, v double, ts timestamp NOT NULL, TIMESTAMP KEY(ts)) "
        "ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO t (h, v, ts) VALUES ('a', 1, 1000), ('b', 2.5, 2000)")
    assert len(frames) == 2
    for df in frames:
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "RDD" not in plan, plan
        assert df.rdd.getNumPartitions() == 1


def test_line_protocol_int_and_float_widen_to_double(server):
    now_ns = time.time_ns()  # the auto-created table keeps the default TTL
    server.handle_line_protocol(
        f"m,host=a x=1i {now_ns}\nm,host=b x=1.5 {now_ns}\nm,host=c x=-3i {now_ns}"
    )
    engine = server.engine
    assert engine.catalog.get("m").schema.column("x").kind == "double"
    rows = engine.execute_sql("SELECT host, x FROM m ORDER BY host").collect()
    assert [(r["host"], r["x"]) for r in rows] == [("a", 1.0), ("b", 1.5), ("c", -3.0)]


@pytest.mark.parametrize(
    "lines",
    [
        f"m,host=a x=t {T0_NS}\nm,host=b x=1.5 {T0_NS}",  # bool with double
        f'm,host=a x=1i {T0_NS}\nm,host=b x="s" {T0_NS}',  # int with string
        f"m,host=a x=18446744073709551615i {T0_NS}",  # past int64
        f"m,host=a x=9007199254740993i {T0_NS}\nm,host=b x=0.5 {T0_NS}",  # past 2**53
    ],
)
def test_line_protocol_rejects_conflicts_naming_the_column(server, lines):
    with pytest.raises(ValueError, match="'x'"):
        server.handle_line_protocol(lines)
    assert not server.engine.catalog.exists("m")


def _typed_table(engine: Engine) -> None:
    engine.execute_sql(
        "CREATE TABLE ty (h string TAG, n bigint, v double, b varbinary, f boolean, "
        "ts timestamp NOT NULL, TIMESTAMP KEY(ts)) ENGINE=Analytic WITH(enable_ttl='false')"
    )


def test_insert_rows_keeps_types(spark, tmp_path, monkeypatch):
    from pyspark.sql import types as T

    engine = Engine(spark, str(tmp_path / "store"))
    _typed_table(engine)
    frames = _capture_writes(monkeypatch)
    cols = ["h", "n", "v", "b", "f", "ts"]
    rows = [
        {"h": "a", "n": None, "v": 3, "b": "héllo", "f": True, "ts": 1000},
        {"h": "b", "n": None, "v": 2.5, "b": b"\x00\xff", "f": False, "ts": 2000},
    ]
    assert engine.insert_rows("ty", cols, rows) == 2
    types = {f.name: f.dataType for f in frames[0].schema.fields}
    assert types == {
        "h": T.StringType(),
        "n": T.LongType(),  # all NULL, still bigint
        "v": T.DoubleType(),
        "b": T.BinaryType(),
        "f": T.BooleanType(),
        "ts": T.TimestampType(),
    }
    got = {
        r["h"]: (r["n"], r["v"], bytes(r["b"]), r["f"], r["ms"])
        for r in engine.execute_sql(
            "SELECT h, n, v, b, f, unix_millis(ts) AS ms FROM ty"
        ).collect()
    }
    assert got == {
        "a": (None, 3.0, "héllo".encode(), True, 1000),
        "b": (None, 2.5, b"\x00\xff", False, 2000),
    }
    assert isinstance(got["a"][1], float)


@pytest.mark.parametrize(
    "col, value",
    [
        ("n", 1.5),  # fractional value for a bigint column
        ("n", True),  # bool is not an integer
        ("n", 2**63),  # past int64
        ("v", True),  # bool is not a double
        ("ts", "2024-01-01"),  # timestamps are epoch ms
    ],
)
def test_insert_rows_rejects_values_naming_the_column(spark, tmp_path, col, value):
    engine = Engine(spark, str(tmp_path / "store"))
    _typed_table(engine)
    row = {"h": "a", "n": 1, "v": 1.0, "b": b"", "f": True, "ts": 1000, col: value}
    with pytest.raises(ValueError, match=f"'{col}'"):
        engine.insert_rows("ty", list(row), [row])
    assert engine.table("ty").last_seq() == 0
