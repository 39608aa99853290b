"""The two writers behind ``Table.write`` (table.py ``Table._append``): a
frame Catalyst folds into a local relation (a request batch) is collected
on the driver and written by pyarrow; any other frame by a Spark job.
Both store the same rows.

- the same batch, written by each writer, reads back with equal rows,
  types and tsid: every column kind, NULLs and a DEFAULT expression, on
  APPEND and OVERWRITE tables, unpartitioned, PARTITION BY KEY and
  PARTITION BY RANDOM;
- ``compact()`` merges a leaf holding one file from each writer, and the
  OVERWRITE dedup keeps the newer ``__seq`` whichever writer wrote it;
- every accepted codec round-trips through both writers and compaction;
  an unknown codec or a row-group size <= 0 is refused before anything is
  created or changed, and a stored meta naming an unknown codec is refused
  by name at write and compaction until ALTER sets a known one;
- a pre-1970 row lands in its floored segment, so a time-bounded read
  finds it;
- a request batch past ``DRIVER_WRITE_MAX_VALUES`` goes to the Spark
  writer;
- an append by either writer leaves no cyclic garbage: its py4j proxies,
  and with them the JVM's hold on its plans, are gone when ``write``
  returns.
"""

from __future__ import annotations

import datetime
import gc
import json
import urllib.error
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_horaedb_spark import table as table_mod
from incubator_horaedb_spark.catalog import COMPRESSION_CODECS
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.schema import SEQ_COLUMN
from incubator_horaedb_spark.server import EngineServer
from incubator_horaedb_spark.table import Table

HOUR_MS = 3_600_000
ROWS = 24


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


@pytest.fixture()
def routes(monkeypatch) -> list[bool]:
    """Whether each append's projected frame folded (driver writer)."""
    seen = []
    folds = table_mod._folds

    def spy(df):
        seen.append(folds(df))
        return seen[-1]

    monkeypatch.setattr(table_mod, "_folds", spy)
    return seen


COLUMNS = (
    "host string TAG, u64 uint64, u32 uint32, u16 uint16, u8 uint8, i64 bigint, "
    "i32 int, i16 smallint, i8 tinyint, f float, d double, dt date, b boolean, "
    "vb varbinary, dflt uint32 DEFAULT i32 * 2 + 1, ts timestamp NOT NULL, TIMESTAMP KEY(ts)"
)


def _create(engine, name: str, mode="APPEND", partition="", with_="") -> Table:
    engine.execute_sql(
        f"CREATE TABLE {name} ({COLUMNS}) {partition} ENGINE=Analytic "
        f"WITH(enable_ttl='false', update_mode='{mode}', segment_duration='2h'{with_})"
    )
    return engine.table(name)


def _batch(version: int) -> pa.Table:
    """ROWS rows over segments -1, 0 and 1 (6, 12 and 6 rows), four series
    by host (one host NULL), every value column NULL in some rows.
    ``version`` changes the values, not the keys."""

    def col(f, t):
        return pa.array([None if (i + k) % 5 == 0 else f(i) for i in range(ROWS)], t)

    k = version
    return pa.table(
        {
            "host": pa.array([None if i % 4 == 3 else f"h{i % 4}" for i in range(ROWS)]),
            "u64": col(lambda i: 2**40 + i + k, pa.int64()),
            "u32": col(lambda i: 4_000_000_000 + i, pa.int64()),
            "u16": col(lambda i: 60_000 + i, pa.int32()),
            "u8": col(lambda i: 200 + i + k, pa.int32()),
            "i64": col(lambda i: -(2**50) - i, pa.int64()),
            "i32": col(lambda i: i * 7 - 50 + k, pa.int32()),
            "i16": col(lambda i: -30_000 + i, pa.int16()),
            "i8": col(lambda i: i - 100, pa.int8()),
            "f": col(lambda i: i / 3 + k, pa.float32()),
            "d": col(lambda i: i / 7 - 1 + k, pa.float64()),
            "dt": col(lambda i: datetime.date(1969, 12, 25) + datetime.timedelta(i), pa.date32()),
            "b": col(lambda i: i % 2 == k % 2, pa.bool_()),
            "vb": col(lambda i: bytes([i, 255 - k]), pa.binary()),
            "ts": pa.array([i * 600_000 - HOUR_MS for i in range(ROWS)], pa.timestamp("ms", "UTC")),
        }
    )


def _write(spark, tbl: Table, batch: pa.Table, writer: str) -> None:
    df = spark.createDataFrame(batch)
    # a repartition does not fold into the local relation: the Spark writer
    tbl.write(df if writer == "driver" else df.repartition(1))


def _rows(tbl: Table) -> list[tuple]:
    return sorted(map(tuple, tbl.read(with_internal=True).collect()), key=repr)


@pytest.mark.parametrize("mode", ["APPEND", "OVERWRITE"])
@pytest.mark.parametrize(
    "partition",
    ["", "PARTITION BY KEY(host) PARTITIONS 2", "PARTITION BY RANDOM PARTITIONS 2"],
    ids=["unpartitioned", "key", "random"],
)
def test_both_writers_store_the_same_rows(engine, spark, routes, mode, partition):
    drv = _create(engine, "drv", mode, partition)
    spk = _create(engine, "spk", mode, partition)
    _write(spark, drv, _batch(0), "driver")
    _write(spark, spk, _batch(0), "spark")
    assert routes == [True, False]

    a, b = drv.read(with_internal=True), spk.read(with_internal=True)
    assert a.schema == b.schema
    assert _rows(drv) == _rows(spk)
    got = drv.read().collect()
    assert len(got) == ROWS and {r["host"] for r in got} == {"h0", "h1", "h2", None}
    assert all(r["dflt"] == (None if r["i32"] is None else r["i32"] * 2 + 1) for r in got)
    assert sorted(r["ts"] for r in got)[0] == datetime.datetime(1969, 12, 31, 23, 0)

    # a second batch, same keys, through the other writer: every leaf now
    # holds one file from each writer (random scatter may leave some alone).
    # compact() rewrites a leaf of two files, and a lone file only when an
    # OVERWRITE read must dedup it: a Spark-written one, not key-unique
    _write(spark, drv, _batch(1), "spark")
    _write(spark, spk, _batch(1), "driver")
    for t in (drv, spk):
        leaves = t._leaves().values()
        per_leaf = [len(files) for files in leaves]
        assert max(per_leaf) == 2 and ("RANDOM" in partition or min(per_leaf) == 2)
        picked = [
            len(files) == 2
            or mode == "OVERWRITE" and not any(e["unique"] for e in files.values())
            for files in leaves
        ]
        assert t.compact() == sum(picked)
        assert [len(files) for files in t._leaves().values()] == [1] * len(per_leaf)
    assert _rows(drv) == _rows(spk)
    seqs = sorted(r[SEQ_COLUMN] for r in drv.read(with_internal=True).collect())
    if mode == "OVERWRITE":  # the newer batch wins, whichever writer wrote it
        assert seqs == [2] * ROWS
        newer = spark.createDataFrame(_batch(1)).collect()
        assert sorted(r["u8"] or 0 for r in drv.read().collect()) == sorted(
            r["u8"] or 0 for r in newer
        )
    else:
        assert seqs == [1] * ROWS + [2] * ROWS


def _codecs(engine, name: str) -> set[str]:
    data = engine.catalog.data_dir(name)
    return {
        pq.ParquetFile(f"{data}/{p}").metadata.row_group(0).column(0).compression
        for p in engine.catalog.files(name)[1]
    }


@pytest.mark.parametrize("codec", sorted(COMPRESSION_CODECS))
def test_every_codec_round_trips_through_both_writers_and_compaction(engine, spark, codec):
    # pyarrow names the LZ4_RAW codec LZ4
    stored = {"NONE": "UNCOMPRESSED"}.get(codec, codec)
    tbl = _create(engine, "c", with_=f", compression='{codec.lower()}'")
    _write(spark, tbl, _batch(0), "driver")
    _write(spark, tbl, _batch(1), "spark")
    assert _codecs(engine, "c") == {stored}
    before = _rows(tbl)
    assert len(before) == 2 * ROWS
    assert tbl.compact() == 3
    assert _codecs(engine, "c") == {stored}
    assert _rows(tbl) == before


def test_driver_writer_honours_row_group_size(engine, spark):
    _create(engine, "rg", with_=", num_rows_per_row_group='10'")
    _write(spark, engine.table("rg"), _batch(0), "driver")
    data = engine.catalog.data_dir("rg")

    def row_groups(files) -> list[int]:
        return sorted(pq.ParquetFile(f"{data}/{p}").metadata.num_row_groups for p in files)

    first = engine.catalog.files("rg")[1]
    assert row_groups(first) == [1, 1, 2]  # 6, 12 and 6 rows per segment
    engine.execute_sql("ALTER TABLE rg MODIFY SETTING num_rows_per_row_group='3'")
    _write(spark, engine.table("rg"), _batch(1), "driver")
    assert row_groups(engine.catalog.files("rg")[1].keys() - first.keys()) == [2, 2, 4]


def test_batch_past_the_driver_limit_is_written_by_one_spark_task(engine, routes, monkeypatch):
    """A request batch of more than ``DRIVER_WRITE_MAX_VALUES`` values (a
    big COPY or LOAD DATA) is coalesced, so it does not fold: a Spark job
    writes it, one task per ~128 MiB.  A batch at the limit is written on
    the driver."""
    monkeypatch.setattr(table_mod, "DRIVER_WRITE_MAX_VALUES", 8 * 3)
    engine.execute_sql(
        "CREATE TABLE big (h string TAG, v double, ts timestamp NOT NULL, TIMESTAMP KEY(ts)) "
        "ENGINE=Analytic WITH(enable_ttl='false', segment_duration='2h')"
    )
    files = []  # one segment: each write adds one file
    for n in (8, 9):
        rows = [{"h": f"h{i}", "v": i / 2, "ts": n * 1000 + i} for i in range(n)]
        engine.insert_rows("big", ["h", "v", "ts"], rows)
        files.append(len(engine.catalog.files("big")[1]))
    assert routes == [True, False] and files == [1, 2]
    got = engine.execute_sql("SELECT h, v, ts FROM big").collect()
    assert sorted((r["h"], r["v"], r["ts"].timestamp()) for r in got) == sorted(
        (f"h{i}", i / 2, (n * 1000 + i) / 1000) for n in (8, 9) for i in range(n)
    )


@pytest.mark.parametrize(
    "setting",
    [
        "compression='gzip'",
        "compression='lz4_raw'",
        "num_rows_per_row_group='0'",
        "num_rows_per_row_group='-5'",
        "num_rows_per_row_group='many'",
    ],
)
def test_bad_codec_or_row_group_size_is_refused(engine, setting):
    with pytest.raises(ValueError, match="compression|num_rows_per_row_group"):
        _create(engine, "bad", with_=f", {setting}")
    assert not engine.catalog.exists("bad")
    _create(engine, "ok")
    before = engine.catalog.get("ok").options
    with pytest.raises(ValueError, match="compression|num_rows_per_row_group"):
        engine.execute_sql(f"ALTER TABLE ok MODIFY SETTING ttl='1d', {setting}")
    assert engine.catalog.get("ok").options == before


def test_bad_codec_is_http_400(engine):
    srv = EngineServer(engine).start()
    try:
        sql = f"CREATE TABLE bad ({COLUMNS}) ENGINE=Analytic WITH(compression='brotli')"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/sql", data=json.dumps({"query": sql}).encode()
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400
        assert "compression" in json.loads(e.value.read())["error"]
    finally:
        srv.stop()
    assert not engine.catalog.exists("bad")


def test_stored_unknown_codec_is_refused_by_name_until_altered(engine, spark, tmp_path):
    """A meta stored before CREATE and ALTER checked codecs may name one
    outside the map (any Spark codec was taken).  The table still reads;
    its writes and compactions raise ValueError naming the table and the
    codec; ALTER … MODIFY SETTING makes it writable again."""
    _write(spark, _create(engine, "legacy"), _batch(0), "driver")
    path = f"{engine.catalog.table_dir('legacy')}/_meta.json"
    with open(path) as f:
        stored = json.load(f)
    stored["options"]["compression"] = "GZIP"
    with open(path, "w") as f:
        json.dump(stored, f)
    tbl = Engine(spark, str(tmp_path / "store")).table("legacy")  # the store reopened
    refused = "table 'legacy' stores compression 'GZIP'"
    for writer in ("driver", "spark"):
        with pytest.raises(ValueError, match=refused):
            _write(spark, tbl, _batch(1), writer)
    with pytest.raises(ValueError, match=refused):
        tbl.compact()
    assert tbl.read().count() == ROWS and tbl.meta.next_seq == 2
    engine.execute_sql("ALTER TABLE legacy MODIFY SETTING compression='snappy'")
    _write(spark, tbl, _batch(1), "driver")
    assert tbl.compact() == 3
    assert tbl.read().count() == 2 * ROWS
    assert _codecs(engine, "legacy") == {"SNAPPY"}


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_pre_1970_row_is_found_by_a_bounded_read(engine, spark, routes, writer):
    engine.execute_sql(
        "CREATE TABLE old (h string TAG, v double, ts timestamp NOT NULL, TIMESTAMP KEY(ts)) "
        "ENGINE=Analytic WITH(enable_ttl='false', segment_duration='2h')"
    )
    batch = pa.table({"h": ["a"], "v": [1.0], "ts": pa.array([-500], pa.timestamp("ms", "UTC"))})
    _write(spark, engine.table("old"), batch, writer)
    assert routes == [writer == "driver"]
    assert [p.split("/")[0] for p in engine.catalog.files("old")[1]] == ["__segment=-1"]
    assert engine.table("old").read(lo_ms=-1000, hi_ms=0).count() == 1


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_an_append_leaves_no_cyclic_garbage(engine, spark, routes, writer):
    tbl = _create(engine, "g")
    df = spark.createDataFrame(_batch(0))
    df = df if writer == "driver" else df.repartition(1)  # as _write
    gc.collect()
    tbl.write(df)
    garbage = gc.collect()
    assert routes == [writer == "driver"]
    assert garbage == 0
