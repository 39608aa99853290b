"""The write projection (table.py ``_Projection``): the Spark expressions
``Table._append`` stacks on a batch are built once per table version and
batch column names, kept per table in ``_PROJECTIONS``, and rebuilt when
either changes.

- a repeat 1,000-row line-protocol write to an existing table makes at
  most 100 py4j round trips (228 with the projection built per write) and
  starts no Spark job;
- a repeat write into an existing leaf makes no directory through Hadoop;
- a second batch of the same shape builds no projection, a new column set
  or a new table version builds one;
- on both writers, the stored rows are the rows computed in Python across
  ALTER … ADD COLUMN, MODIFY SETTING segment_duration, DROP and re-CREATE,
  a DEFAULT that references an earlier DEFAULT and alternating column
  sets;
- two identical batches to a RANDOM table scatter differently.
"""

from __future__ import annotations

import random

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from incubator_horaedb_spark import fsops
from incubator_horaedb_spark import table as table_mod
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.schema import SEQ_COLUMN
from incubator_horaedb_spark.server import EngineServer
from incubator_horaedb_spark.table import batch_frame

HOUR_MS = 3_600_000
WRITERS = ["driver", "spark"]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _create(engine, name: str, columns: str, with_="", partition="") -> None:
    engine.execute_sql(
        f"CREATE TABLE {name} ({columns}, ts timestamp NOT NULL, TIMESTAMP KEY(ts)) "
        f"{partition} ENGINE=Analytic WITH(enable_ttl='false', segment_duration='2h'{with_})"
    )


def _write(engine, name: str, rows: list[dict], kinds: dict[str, str], writer: str) -> None:
    """``rows`` (``kinds`` as ``batch_frame`` takes them, ``ts`` added) as
    one batch: the driver writer's local relation, or, repartitioned so it
    cannot fold, the Spark writer's frame."""
    df = batch_frame(engine.spark, rows, {**kinds, "ts": "timestamp"})
    engine.table(name).write(df if writer == "driver" else df.repartition(1))


def _stored(engine, name: str, cols: list[str]) -> list[tuple]:
    got = engine.table(name).read().select(*cols, F.unix_millis("ts")).collect()
    return sorted(tuple(r) for r in got)


def _expected(rows: list[dict], cols: list[str]) -> list[tuple]:
    return sorted((*(r.get(c) for c in cols), r["ts"]) for r in rows)


@pytest.fixture()
def builds(monkeypatch) -> list[tuple[str, ...]]:
    """The batch column names of each projection built."""
    seen = []
    init = table_mod._Projection.__init__

    def spy(self, spark, meta, columns):
        seen.append(columns)
        init(self, spark, meta, columns)

    monkeypatch.setattr(table_mod._Projection, "__init__", spy)
    return seen


def _line_protocol(slot: int) -> str:
    """1,000 rows of ``cpu``: 50 series (host, region tags) x 20 points."""
    rng = random.Random(slot)
    base_ns = (1_700_000_000_000 + slot * 20_000) * 1_000_000
    return "\n".join(
        f"cpu,host=h{s:02d},region=r{s % 4} usage={rng.randrange(100_000) / 1000!r},"
        f"idle={rng.randrange(100)}i {base_ns + p * 1_000_000_000}"
        for s in range(50)
        for p in range(20)
    )


def test_a_repeat_protocol_write_makes_at_most_100_jvm_calls(engine, monkeypatch):
    srv = EngineServer(engine)
    try:
        for slot in range(2):  # creates the table and samples its segment duration
            srv.handle_line_protocol(_line_protocol(slot))
        sc = engine.spark.sparkContext
        sc.setJobGroup("repeat-write", "a repeat protocol write")
        calls = []
        send = py4j.clientserver.ClientServerConnection.send_command

        def counted(self, command):
            calls.append(command)
            return send(self, command)

        monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
        try:
            srv.handle_line_protocol(_line_protocol(2))
        finally:
            monkeypatch.undo()
            sc._jsc.clearJobGroup()
        assert len(calls) <= 100, f"{len(calls)} py4j round trips"
        assert sc.statusTracker().getJobIdsForGroup("repeat-write") == []
        assert sum(e["rows"] for e in engine.catalog.files("cpu")[1].values()) == 3000
    finally:
        srv.httpd.server_close()


def test_a_repeat_write_into_an_existing_leaf_makes_no_hadoop_directory(engine, monkeypatch):
    _create(engine, "t", "h string TAG, v double")
    rows = [{"h": "a", "v": 1.0, "ts": 1000}, {"h": "b", "v": 2.0, "ts": 2000}]
    kinds = {"h": "string", "v": "double"}
    _write(engine, "t", rows[:1], kinds, "driver")

    def refused(*args):
        raise AssertionError(f"fsops.mkdirs{args[1:]}")

    monkeypatch.setattr(fsops, "mkdirs", refused)
    _write(engine, "t", rows[1:], kinds, "driver")
    assert len({p.rsplit("/", 1)[0] for p in engine.catalog.files("t")[1]}) == 1
    assert _stored(engine, "t", ["h", "v"]) == _expected(rows, ["h", "v"])


def test_a_projection_is_built_once_per_version_and_column_set(engine, builds):
    _create(engine, "t", "h string TAG, v double, w double")
    a, b = {"h": "string", "v": "double"}, {"h": "string", "w": "double"}
    for kinds in (a, a, b, b, a):
        _write(engine, "t", [{"h": "x", "v": 1.0, "w": 2.0, "ts": 1000}], kinds, "driver")
    assert builds == [("h", "v", "ts"), ("h", "w", "ts"), ("h", "v", "ts")]
    engine.execute_sql("ALTER TABLE t MODIFY SETTING num_rows_per_row_group='100'")
    _write(engine, "t", [{"h": "x", "v": 1.0, "ts": 1000}], a, "driver")
    assert len(builds) == 4


@pytest.mark.parametrize("writer", WRITERS)
def test_a_column_added_between_two_writes_is_stored(engine, writer):
    _create(engine, "t", "h string TAG, v double")
    kinds = {"h": "string", "v": "double", "w": "int64"}
    first = [{"h": "a", "v": 1.0, "w": 10, "ts": 1000}]
    _write(engine, "t", first, kinds, writer)  # w is no column yet: dropped
    engine.execute_sql("ALTER TABLE t ADD COLUMN (w bigint)")
    second = [{"h": "a", "v": 2.0, "w": 20, "ts": 2000}]
    _write(engine, "t", second, kinds, writer)
    assert _stored(engine, "t", ["h", "v", "w"]) == _expected(
        [{**first[0], "w": None}, *second], ["h", "v", "w"]
    )


@pytest.mark.parametrize("writer", WRITERS)
def test_a_new_segment_duration_names_the_next_write_leaves(engine, writer):
    _create(engine, "t", "h string TAG, v double")
    kinds = {"h": "string", "v": "double"}
    rows = [{"h": "a", "v": float(i), "ts": i * HOUR_MS + 1} for i in range(4)]
    _write(engine, "t", rows, kinds, writer)
    before = set(engine.catalog.files("t")[1])
    engine.execute_sql("ALTER TABLE t MODIFY SETTING segment_duration='1h'")
    later = [{**r, "v": r["v"] + 10, "ts": r["ts"] + HOUR_MS // 2} for r in rows]
    _write(engine, "t", later, kinds, writer)
    leaves = {p.rsplit("/", 1)[0] for p in set(engine.catalog.files("t")[1]) - before}
    assert {p.rsplit("/", 1)[0] for p in before} == {"__segment=0", "__segment=1"}
    assert leaves == {f"__segment={i}" for i in range(4)}
    assert _stored(engine, "t", ["h", "v"]) == _expected(rows + later, ["h", "v"])


@pytest.mark.parametrize("writer", WRITERS)
def test_a_re_created_table_stores_its_new_schema(engine, writer):
    kinds = {"h": "string", "v": "double", "n": "int64"}
    row = {"h": "a", "v": 1.5, "n": 7, "ts": 1000}
    _create(engine, "t", "h string TAG, v double")
    _write(engine, "t", [row], kinds, writer)
    engine.execute_sql("DROP TABLE t")
    _create(engine, "t", "h string TAG, n bigint")
    later = {**row, "n": 8, "ts": 2000}
    _write(engine, "t", [later], kinds, writer)
    assert engine.table("t").read().columns == ["h", "n", "ts"]
    assert _stored(engine, "t", ["h", "n"]) == _expected([later], ["h", "n"])


@pytest.mark.parametrize("writer", WRITERS)
def test_a_default_that_references_an_earlier_default(engine, writer):
    _create(engine, "t", "h string TAG, a bigint DEFAULT 5, b bigint DEFAULT a * 2 + 1")
    rows = [{"h": "x", "ts": 1000}, {"h": "y", "ts": 2000}]
    for row in rows:  # the second builds no projection of its own
        _write(engine, "t", [row], {"h": "string"}, writer)
    given = {"h": "z", "a": 3, "ts": 3000}
    _write(engine, "t", [given], {"h": "string", "a": "int64"}, writer)
    want = [{**r, "a": 5, "b": 11} for r in rows] + [{**given, "b": 7}]
    assert _stored(engine, "t", ["h", "a", "b"]) == _expected(want, ["h", "a", "b"])


@pytest.mark.parametrize("writer", WRITERS)
def test_alternating_column_sets_store_their_own_columns(engine, writer):
    _create(engine, "t", "h string TAG, v double, w double")
    a, b = {"h": "string", "v": "double"}, {"h": "string", "w": "double"}
    written = []
    for i, kinds in enumerate((a, b, a, b)):
        row = {"h": f"h{i}", "v": i + 0.5, "w": i + 0.25, "ts": 1000 * i}
        _write(engine, "t", [row], kinds, writer)
        written.append({c: row.get(c) if c in kinds or c == "ts" else None for c in row})
    assert _stored(engine, "t", ["h", "v", "w"]) == _expected(written, ["h", "v", "w"])


@pytest.mark.parametrize("writer", WRITERS)
def test_two_identical_batches_to_a_random_table_scatter_differently(engine, writer):
    _create(engine, "t", "h string TAG, i bigint", partition="PARTITION BY RANDOM PARTITIONS 4")
    rows = [{"h": "a", "i": i, "ts": 1000 + i} for i in range(64)]
    for _ in range(2):
        _write(engine, "t", rows, {"h": "string", "i": "int64"}, writer)
    tbl = engine.table("t")
    scan = tbl._scan(tbl.meta, engine.catalog.files("t")[1])
    got = scan.select("i", SEQ_COLUMN, table_mod.PARTITION_COLUMN).collect()
    scatter = {seq: {} for seq in (1, 2)}
    for r in got:
        scatter[r[SEQ_COLUMN]][r["i"]] = r[table_mod.PARTITION_COLUMN]
    assert len(scatter[1]) == len(scatter[2]) == len(rows)
    assert set(scatter[1].values()) | set(scatter[2].values()) <= {0, 1, 2, 3}
    assert scatter[1] != scatter[2]
