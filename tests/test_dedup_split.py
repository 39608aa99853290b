"""The split OVERWRITE read (table.py ``Table.read``): the dedup window runs
only over the files that can hold two versions of a key
(``table._overlapping``), and every other file is scanned plainly.

For each shape below, the split read equals a full-window read of the same
files (``_overlapping`` forced to name every file, which is the read as it
was before the split), on every read argument that sits below the window:

- overlapping re-writes of the same keys, beside a later disjoint append;
- duplicate keys inside one batch;
- ``as_of_seq`` before and after a compaction, and a re-write of a
  compacted range;
- TTL;
- unpartitioned, ``PARTITION BY KEY`` and ``PARTITION BY RANDOM`` tables;
- pre-1970 rows;
- an INSERT … SELECT file (Spark-written: not key-unique);
- a store whose ``_files.json`` is in the format before entries, reopened.

The plan tests check the perfbench ``ingest_mix`` reader statement: over
non-overlapping files its optimized plan has no ``Window``; with one
overlapping append the window covers only the overlapping files.  The
classifier itself is checked on example ranges, and on a table whose
segment duration changed between two writes of the same keys.
"""

from __future__ import annotations

import json
import os

import pytest

from incubator_horaedb_spark import table as table_mod
from incubator_horaedb_spark.frontends.sql_shim import Engine

H = 3_600_000
T0 = 1_700_000_000_000 - 1_700_000_000_000 % (2 * H)
CPU = "ts timestamp NOT NULL, host string TAG, region string TAG, usage double, idle bigint"
LAYOUTS = {
    "unpartitioned": "",
    "key": "PARTITION BY KEY(host) PARTITIONS 4",
    "random": "PARTITION BY RANDOM PARTITIONS 4",
}


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _create(engine, name, partition="", ttl="enable_ttl='false'"):
    engine.execute_sql(
        f"CREATE TABLE {name} ({CPU}, TIMESTAMP KEY(ts)) {partition} ENGINE=Analytic "
        f"WITH (segment_duration='2h', {ttl})"
    )


def _write(engine, name, rows):
    """One INSERT … VALUES batch (the driver writer): (host, usage, ts_ms)."""
    engine.insert_rows(
        name,
        ["host", "region", "usage", "idle", "ts"],
        [{"host": h, "region": "r0", "usage": u, "idle": 1, "ts": t} for h, u, t in rows],
    )


def _grid(hosts, t0, n, usage=0.0):
    return [(h, usage + i, t0 + i * 60_000) for h in hosts for i in range(n)]


def _sides(tbl) -> tuple[set, set]:
    """(plain files, overlapping files) of ``tbl``'s current file list."""
    files = tbl.catalog.files(tbl.name)[1]
    over = table_mod._overlapping(files)
    return files.keys() - over, over


def _reads(tbl, monkeypatch, **kw) -> tuple[list, list]:
    """The split read and the full-window read of the same files, sorted."""
    table_mod._SCANS.clear()
    split = sorted(map(tuple, tbl.read(with_internal=True, **kw).collect()))
    with monkeypatch.context() as m:
        m.setattr(table_mod, "_overlapping", lambda files: set(files))  # all under the window
        table_mod._SCANS.clear()
        full = sorted(map(tuple, tbl.read(with_internal=True, **kw).collect()))
    table_mod._SCANS.clear()
    return split, full


def _assert_same(tbl, monkeypatch, **kw) -> list:
    split, full = _reads(tbl, monkeypatch, **kw)
    assert split == full, kw
    return split


ARGS = [
    {},
    {"lo_ms": T0 + 30 * 60_000, "hi_ms": T0 + 3 * H},
    {"filters": {"host": ["h1", "h2"]}},
    {"as_of_seq": 1},
    {"as_of_seq": 2},
]


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_rewrites_of_the_same_keys(engine, monkeypatch, layout):
    _create(engine, "rw", LAYOUTS[layout])
    _write(engine, "rw", _grid(["h0", "h1", "h2"], T0, 20))
    _write(engine, "rw", _grid(["h1", "h2"], T0 + 10 * 60_000, 5, usage=100.0))
    _write(engine, "rw", _grid(["h0", "h1", "h2"], T0 + 2 * H, 20))  # a later, disjoint slice
    tbl = engine.table("rw")
    plain, over = _sides(tbl)
    files = tbl.catalog.files("rw")[1]
    assert plain and over
    assert {files[p]["version"] for p in over} == {1, 2}  # the two writes of the first slice
    assert {files[p]["version"] for p in plain} == {3}
    for kw in ARGS:
        _assert_same(tbl, monkeypatch, **kw)
    rows = _assert_same(tbl, monkeypatch)
    assert len(rows) == 120  # 60 + 60 keys; the re-written 10 kept once
    assert sum(r[3] >= 100.0 for r in rows) == 10


def test_duplicate_keys_inside_one_batch(engine, monkeypatch):
    _create(engine, "dup")
    _write(engine, "dup", [("h0", 1.0, T0), ("h0", 1.0, T0), ("h1", 2.0, T0)])
    _write(engine, "dup", _grid(["h0"], T0 + H, 3))
    tbl = engine.table("dup")
    files = tbl.catalog.files("dup")[1]
    assert sorted(e["unique"] for e in files.values()) == [False, True]
    plain, over = _sides(tbl)
    assert [files[p]["unique"] for p in over] == [False]
    assert len(plain) == 1
    assert len(_assert_same(tbl, monkeypatch)) == 2 + 3


def test_as_of_seq_before_and_after_compaction(engine, monkeypatch):
    _create(engine, "snap")
    _write(engine, "snap", _grid(["h0", "h1"], T0, 10))
    _write(engine, "snap", _grid(["h1"], T0 + 5 * 60_000, 10, usage=50.0))
    _write(engine, "snap", _grid(["h0", "h1"], T0 + H, 10))
    tbl = engine.table("snap")
    before = {s: _assert_same(tbl, monkeypatch, as_of_seq=s) for s in (1, 2, 3)}
    assert tbl.compact() == 1
    files = tbl.catalog.files("snap")[1]
    assert all(e["unique"] for e in files.values())
    assert _sides(tbl)[1] == set()  # one compacted file: nothing to dedup
    for s in (1, 2, 3):
        after = _assert_same(tbl, monkeypatch, as_of_seq=s)
        # compaction keeps only the newest version of each key
        assert {r[:2] for r in after} <= {r[:2] for r in before[s]}
    assert _assert_same(tbl, monkeypatch, as_of_seq=3) == before[3]
    # a re-write of a compacted range puts both files under the window
    _write(engine, "snap", _grid(["h0"], T0 + 2 * 60_000, 3, usage=900.0))
    assert len(_sides(tbl)[1]) == 2
    rows = _assert_same(tbl, monkeypatch)
    assert len(rows) == len(before[3]) and sum(r[3] >= 900.0 for r in rows) == 3
    for s in (3, 4):
        _assert_same(tbl, monkeypatch, as_of_seq=s)


def test_ttl(engine, monkeypatch):
    _create(engine, "ttl", ttl="enable_ttl='true', ttl='1d'")
    _write(engine, "ttl", _grid(["h0", "h1"], T0, 30))
    _write(engine, "ttl", _grid(["h1"], T0 + 20 * 60_000, 5, usage=70.0))
    _write(engine, "ttl", _grid(["h0", "h1"], T0 + 4 * H, 30))
    tbl = engine.table("ttl")
    assert tbl.meta.options.enable_ttl
    assert _sides(tbl)[0] and _sides(tbl)[1]
    day = 24 * H
    for now in (T0 + day + 25 * 60_000, T0 + day + 3 * H, T0 + day + 4 * H + 10 * 60_000):
        _assert_same(tbl, monkeypatch, now_ms=now)


def test_pre_1970_rows(engine, monkeypatch):
    base = -3 * H  # 1969-12-31T21:00Z
    _create(engine, "old")
    _write(engine, "old", _grid(["h0", "h1"], base, 10))
    _write(engine, "old", _grid(["h0"], base + 5 * 60_000, 2, usage=40.0))
    _write(engine, "old", _grid(["h0", "h1"], base + H, 10))
    tbl = engine.table("old")
    files = tbl.catalog.files("old")[1]
    assert sorted(e["ts"] for e in files.values()) == [
        [base, base + 9 * 60_000],
        [base + 5 * 60_000, base + 6 * 60_000],
        [base + H, base + H + 9 * 60_000],
    ]
    assert len(_sides(tbl)[1]) == 2
    for kw in ({}, {"lo_ms": base + 6 * 60_000, "hi_ms": 0}):
        _assert_same(tbl, monkeypatch, **kw)


def test_changed_segment_duration(engine, monkeypatch):
    """After a segment-duration change one timestamp maps to another segment
    number, so two compacted leaves of different segments can hold one key.
    Each leaf gets two files, so that compact() rewrites both."""
    _create(engine, "seg")
    _write(engine, "seg", _grid(["h0", "h1"], T0 + H, 10))
    _write(engine, "seg", _grid(["h1"], T0 + H, 10, usage=30.0))
    engine.execute_sql("ALTER TABLE seg MODIFY SETTING segment_duration='1h'")
    _write(engine, "seg", _grid(["h0"], T0 + H, 10, usage=50.0))
    _write(engine, "seg", _grid(["h0"], T0 + H, 10, usage=60.0))
    tbl = engine.table("seg")
    leaves = {p.rsplit("/", 1)[0] for p in tbl.catalog.files("seg")[1]}
    assert leaves == {f"__segment={T0 // (2 * H)}", f"__segment={T0 // H + 1}"}
    assert tbl.compact() == 2
    assert len(_sides(tbl)[1]) == 2  # each leaf its own commit, one key range
    rows = _assert_same(tbl, monkeypatch)
    assert len(rows) == 20 and sum(r[3] >= 60.0 for r in rows) == 10


def test_insert_select_file_is_deduped(engine, monkeypatch):
    _create(engine, "src")
    _create(engine, "dst")
    _write(engine, "src", _grid(["h0", "h1"], T0, 10, usage=5.0))
    _write(engine, "dst", _grid(["h0", "h1"], T0 + H, 10))
    assert engine.execute_sql("INSERT INTO dst SELECT * FROM src") == 20
    tbl = engine.table("dst")
    files = tbl.catalog.files("dst")[1]
    spark_written = [p for p, e in files.items() if e["version"] == 2]
    assert spark_written and not any(files[p]["unique"] for p in spark_written)
    assert set(spark_written) <= _sides(tbl)[1]
    _write(engine, "dst", _grid(["h0"], T0, 3, usage=60.0))  # re-writes INSERT … SELECT keys
    rows = _assert_same(tbl, monkeypatch)
    assert len(rows) == 40 and sum(r[3] >= 60.0 for r in rows) == 3


def test_old_file_list_format_reads_as_overlapping(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "store")
    engine = Engine(spark, root)
    _create(engine, "fmt")
    _write(engine, "fmt", _grid(["h0", "h1"], T0, 10))
    _write(engine, "fmt", _grid(["h1"], T0, 4, usage=30.0))
    _write(engine, "fmt", _grid(["h0", "h1"], T0 + H, 10))
    path = os.path.join(engine.catalog.table_dir("fmt"), "_files.json")
    with open(path) as f:
        cur = json.load(f)
    cur["files"] = {p: e["bytes"] for p, e in cur["files"].items()}  # path → bytes
    with open(path, "w") as f:
        json.dump(cur, f)
    table_mod._SCANS.clear()
    fresh = Engine(spark, root)
    tbl = fresh.table("fmt")
    files = tbl.catalog.files("fmt")[1]
    assert len(files) == 3 and all(e.keys() == {"bytes"} for e in files.values())
    assert _sides(tbl) == (set(), set(files))
    rows = _assert_same(tbl, monkeypatch)
    assert len(rows) == 40 and sum(r[3] >= 30.0 for r in rows) == 4
    # the next append is listed in the new format beside the old entries
    _write(fresh, "fmt", _grid(["h0"], T0 + 2 * H, 2))
    assert sum("ts" in e for e in tbl.catalog.files("fmt")[1].values()) == 1
    assert len(_assert_same(tbl, monkeypatch)) == 42


def test_insert_select_count_runs_only_the_write_job(engine):
    _create(engine, "src")
    _create(engine, "dst")
    _write(engine, "src", _grid(["h0", "h1", "h2"], T0, 7) + _grid(["h0"], T0 + 3 * H, 4))
    sc = engine.spark.sparkContext
    sc.setJobGroup("insert-select", "INSERT … SELECT")
    try:
        n = engine.execute_sql("INSERT INTO dst SELECT * FROM src WHERE host <> 'h2'")
    finally:
        sc._jsc.clearJobGroup()
    assert n == 18  # the footers' row counts, over two segments
    assert engine.execute_sql("SELECT count(*) AS n FROM dst").collect()[0]["n"] == 18
    assert len(sc.statusTracker().getJobIdsForGroup("insert-select")) == 1


# ------------------------------------------------------------------ plans --
def _window_scans(plan, under=False):
    """(under a Window?, file names) of each file scan in a JVM logical plan."""
    name = plan.nodeName()
    if name == "LogicalRelation":
        paths = plan.relation().location().rootPaths()
        yield under, {paths.apply(i).getName() for i in range(paths.size())}
    under = under or name == "Window"
    children = plan.children()
    for i in range(children.size()):
        yield from _window_scans(children.apply(i), under)


def _reader_plan(engine, name):
    """The perfbench ingest_mix reader statement's optimized plan."""
    sql = (
        f"SELECT host, count(*) AS n, avg(usage) AS v FROM {name} "
        f"WHERE ts >= {T0 + 4 * H - H} AND ts < {T0 + 4 * H} GROUP BY host"
    )
    return engine.execute_sql(sql)._jdf.queryExecution().optimizedPlan()


def test_reader_plan_has_no_window_over_disjoint_files(engine):
    _create(engine, "cpu")
    for slot in range(6):  # 20-second slices, as ingest_mix writes them
        _write(engine, "cpu", [(f"h{s:02d}", 1.0, T0 + 3 * H + slot * 20_000 + p * 1000)
                               for s in range(5) for p in range(20)])
    engine.table("cpu").compact()
    _write(engine, "cpu", _grid(["h00"], T0 + 3 * H + 10 * 60_000, 3))
    plan = _reader_plan(engine, "cpu")
    assert "Window" not in plan.toString(), plan.toString()
    assert [under for under, _ in _window_scans(plan)] == [False]


def test_reader_plan_windows_only_the_overlapping_files(engine):
    _create(engine, "cpu")
    for slot in range(3):
        _write(engine, "cpu", _grid(["h00", "h01"], T0 + 3 * H + slot * H // 4, 10))
    _write(engine, "cpu", _grid(["h00"], T0 + 3 * H + 5 * 60_000, 2, usage=9.0))
    files = engine.catalog.files("cpu")[1]
    over = {p.rsplit("/", 1)[1] for p in table_mod._overlapping(files)}
    assert len(over) == 2
    scans = list(_window_scans(_reader_plan(engine, "cpu")))
    assert sorted(under for under, _ in scans) == [False, True]
    assert [names for under, names in scans if under] == [over]
    plain = [names for under, names in scans if not under]
    assert plain == [{p.rsplit("/", 1)[1] for p in files} - over]


# ------------------------------------------------------------- classifier --
def _entry(lo, hi, version, unique=True):
    return {"bytes": 1, "ts": [lo, hi], "unique": unique, "version": version}


def test_overlapping_files():
    files = {
        "a": _entry(0, 100, 1),
        "b": _entry(10, 20, 1),  # inside a, same commit
        "c": _entry(30, 40, 2),  # starts after b ends, inside a
        "d": _entry(100, 110, 3),  # touches a's end
        "e": _entry(200, 210, 1),
        "f": _entry(205, 205, 1, unique=False),
        "g": _entry(300, 300, 4),
    }
    assert table_mod._overlapping(files) == {"a", "c", "d", "f"}
    assert table_mod._overlapping({}) == set()
    # a file with no range could hold any key
    assert table_mod._overlapping({**files, "old": {"bytes": 1}}) == {*files, "old"}


def test_key_unique_checks_only_keys_python_and_spark_compare_alike():
    from pyspark.sql import types as T

    fields = [T.StructField("k", T.StringType()), T.StructField("ts", T.LongType()),
              T.StructField("v", T.DoubleType()), T.StructField("b", T.BinaryType())]
    rows = [("a", 1, 0.0, bytearray(b"x")), ("a", 2, -0.0, bytearray(b"x")), (None, 1, 1.0, None)]
    assert table_mod._key_unique(rows, fields, ["k", "ts"])
    assert not table_mod._key_unique(rows + [(None, 1, 2.0, None)], fields, ["k", "ts"])
    # Spark's window holds 0.0 and -0.0 (and every NaN) as one key: not checked
    assert not table_mod._key_unique(rows, fields, ["v", "ts"])
    assert not table_mod._key_unique(rows, fields, ["b", "ts"])
