"""The engine's own Spark session and per-statement views.

``Engine`` runs every path in one session of its own (``Engine.spark``,
``spark.newSession()``), with ``spark.sql.caseSensitive`` set once, so
protocol writes, reads and SQL statements resolve names the same way
whether or not another statement is in flight, and the caller's session
is never changed.  A statement registers views for only the tables it
reads, analyzes itself over them and drops them, under ``Engine._lock``.
The same session stores timestamps as INT64 ``TIMESTAMP(MICROS)`` from
the Spark writer, as the driver writer does.
"""

from __future__ import annotations

import sys
import threading
import time

import pyarrow.parquet as pq
import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.server import EngineServer

_CONFLICT = ("FILE_NOT_EXIST", "FileNotFound", "NoSuchFileException")


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def test_protocol_write_with_mixed_case_tags(engine):
    # two tags that differ only in case: one table, two columns, with no
    # SQL statement in flight
    srv = EngineServer(engine)
    now_ns = time.time_ns()
    srv.handle_line_protocol(f"m,Host=a,host=b v=1 {now_ns}")
    rows = srv.handle_sql("SELECT `Host`, `host`, v FROM m")["rows"]
    assert [(r["Host"], r["host"], r["v"]) for r in rows] == [("a", "b", 1.0)]


def test_statement_leaves_the_caller_session_alone(spark, engine):
    before = spark.conf.get("spark.sql.caseSensitive")
    engine.execute_sql(
        "CREATE TABLE demo (name string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) WITH (enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO demo (t, name, v) VALUES (1651737067000, 'a', 1)")
    out = engine.execute_sql("SELECT name, v FROM demo")
    assert spark.conf.get("spark.sql.caseSensitive") == before
    assert engine.spark.conf.get("spark.sql.caseSensitive") == "true"
    # the statement's view is gone once it is analyzed; its frame still runs
    assert not engine.spark.catalog.listTables()
    assert "demo" not in {t.name for t in spark.catalog.listTables()}
    assert [tuple(r) for r in out.collect()] == [("a", 1.0)]


def _ts_type(path: str) -> tuple:
    schema = pq.ParquetFile(path).schema
    col = schema.column(schema.names.index("ts"))
    return col.physical_type, str(col.logical_type)


def _files(engine, name: str) -> list[str]:
    data = engine.catalog.data_dir(name)
    return [f"{data}/{p}" for p in engine.catalog.files(name)[1]]


def test_spark_and_driver_writers_store_one_timestamp_type(engine):
    ddl = (
        "CREATE TABLE {} (ts timestamp NOT NULL, v double, timestamp KEY (ts)) "
        "WITH (enable_ttl='false')"
    )
    engine.execute_sql(ddl.format("src"))
    # 1500-01-01, 1899-12-31 and 2022-05-05 (ms epochs): the first two
    # predate the Julian/Gregorian and 1900 rebase cut-offs
    ts = [-14831769600000, -2209075200000, 1651737067000]
    for batch in range(2):  # two driver-written files per leaf; the second overwrites
        values = ", ".join(f"({t}, {batch})" for t in ts)
        engine.execute_sql(f"INSERT INTO src (ts, v) VALUES {values}")
    driver = {_ts_type(p) for p in _files(engine, "src")}
    assert len(driver) == 1

    engine.execute_sql(
        "CREATE TABLE ctas WITH (enable_ttl='false') AS SELECT ts, v FROM src"
    )
    engine.execute_sql(ddl.format("dst"))
    assert engine.execute_sql("INSERT INTO dst SELECT ts, v FROM src") == len(ts)
    before = set(_files(engine, "src"))
    engine.table("src").compact()
    compacted = set(_files(engine, "src")) - before
    assert compacted
    for name, paths in (
        ("ctas", _files(engine, "ctas")),
        ("dst", _files(engine, "dst")),
        ("src", compacted),
    ):
        assert paths
        assert {_ts_type(p) for p in paths} == driver, name
        got = engine.execute_sql(f"SELECT unix_millis(ts), v FROM {name} ORDER BY 1")
        assert [tuple(r) for r in got.collect()] == [(t, 1.0) for t in ts], name


def test_readers_alongside_ddl_inserts_and_compaction(engine):
    """Four readers of distinct tables, beside CREATE / ALTER ADD COLUMN /
    INSERT VALUES / DROP of other tables and ``compact()`` of the read
    tables: every read equals the serialized run's, and no read fails
    except with the documented compaction conflict (a scan planned over
    files a commit then replaced)."""
    readers = [f"r{i}" for i in range(4)]
    for i, t in enumerate(readers):
        engine.execute_sql(
            f"CREATE TABLE {t} (host string TAG, v double, ts timestamp NOT NULL, "
            "timestamp KEY (ts)) WITH (enable_ttl='false')"
        )
        for batch in range(2):  # two files per leaf, for compaction to merge
            values = ", ".join(
                f"({1651737067000 + batch * 1000 + j}, 'h{j % 3}', {i * 100 + j})"
                for j in range(12)
            )
            engine.execute_sql(f"INSERT INTO {t} (ts, host, v) VALUES {values}")
    sql = "SELECT host, count(*) AS n, sum(v) AS s FROM {} GROUP BY host ORDER BY host"
    expected = {t: engine.execute_sql(sql.format(t)).collect() for t in readers}

    errors: list[str] = []
    done = threading.Event()
    reads = dict.fromkeys(readers, 0)

    def read(t: str) -> None:
        deadline = time.monotonic() + 180
        while (reads[t] < 3 or not done.is_set()) and time.monotonic() < deadline:
            try:
                rows = engine.execute_sql(sql.format(t)).collect()
            except Exception as e:  # noqa: BLE001 — collected for assertion
                if not any(m in str(e) for m in _CONFLICT):
                    errors.append(f"{t}: {str(e)[:300]}")
                    return
                continue
            if rows != expected[t]:
                errors.append(f"{t}: {rows} != {expected[t]}")
                return
            reads[t] += 1

    def ddl() -> None:
        try:
            for k in range(4):
                d = f"d{k}"
                engine.execute_sql(
                    f"CREATE TABLE {d} (host string TAG, v double, ts timestamp NOT NULL, "
                    "timestamp KEY (ts)) WITH (enable_ttl='false')"
                )
                engine.execute_sql(f"ALTER TABLE {d} ADD COLUMN (note string)")
                engine.execute_sql(
                    f"INSERT INTO {d} (ts, host, v, note) VALUES (1651737067000, 'a', 1, 'x')"
                )
                assert engine.execute_sql(f"SELECT note FROM {d}").collect()[0][0] == "x"
                engine.execute_sql(f"DROP TABLE {d}")
        except Exception as e:  # noqa: BLE001 — collected for assertion
            errors.append(f"ddl: {e!r}"[:300])
        finally:
            done.set()

    def compact() -> None:
        try:
            while any(th.is_alive() for th in reader_threads):
                for t in readers:
                    engine.table(t).compact()
        except Exception as e:  # noqa: BLE001 — collected for assertion
            errors.append(f"compact: {e!r}"[:300])

    reader_threads = [threading.Thread(target=read, args=(t,)) for t in readers]
    threads = reader_threads + [threading.Thread(target=ddl), threading.Thread(target=compact)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(240)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert all(n >= 3 for n in reads.values()), reads
    assert not engine.spark.catalog.listTables()
