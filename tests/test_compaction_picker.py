"""The compaction picker (table.py ``_pick``): ``compact`` rewrites, per
leaf, only the files whose rewrite changes something.

- A leaf's lone key-unique file is left alone: ``compact`` starts no Spark
  job for it and publishes no file-list version.
- A lone OVERWRITE file that is not key-unique (Spark-written) is
  rewritten, since the rewrite dedups it; on an APPEND table it is left.
- A settled file (more than half of ``target_file_bytes`` and out of every
  dedup's reach) stays while the small files beside it merge; one that an
  OVERWRITE write overlaps is picked.
- A rewrite whose output range meets a settled file's range puts both
  under the read's dedup window, and the next ``compact`` picks both.
- ``optimize_zorder`` still rewrites every leaf.

Every read after a compaction is checked against rows computed in Python
and, for OVERWRITE tables, against a read with every file under the dedup
window (``_overlapping`` forced to name every file).
"""

from __future__ import annotations

import pytest

from incubator_horaedb_spark import table as table_mod
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.functions.timeutil import epoch_ms

H = 3_600_000
T0 = 1_700_000_000_000 - 1_700_000_000_000 % (2 * H)  # a segment start
MODES = ["APPEND", "OVERWRITE"]


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _create(engine, name, mode):
    engine.execute_sql(
        f"CREATE TABLE {name} (host string TAG, usage double, ts timestamp NOT NULL, "
        f"TIMESTAMP KEY(ts)) ENGINE=Analytic "
        f"WITH (segment_duration='2h', enable_ttl='false', update_mode='{mode}')"
    )
    return engine.table(name)


def _write(engine, name, rows, spark_writer=False):
    """One batch of (host, usage, ts_ms): the driver writer (a key-unique
    file when its keys are), or a Spark job (never key-unique)."""
    if not spark_writer:
        engine.insert_rows(
            name, ["host", "usage", "ts"], [{"host": h, "usage": u, "ts": t} for h, u, t in rows]
        )
        return
    frame = engine.spark.createDataFrame(
        [(h, u, t) for h, u, t in rows], "host string, usage double, ts long"
    ).selectExpr("host", "usage", "timestamp_millis(ts) AS ts")
    engine.table(name).write(frame.repartition(1))


def _grid(t0, n, usage=0.0, hosts=("h0", "h1")):
    return [(h, usage + i, t0 + i * 1000) for h in hosts for i in range(n)]


def _expected(mode, batches):
    """The table's rows after ``batches``: every row, or the newest per key."""
    if mode == "APPEND":
        return sorted(r for b in batches for r in b)
    newest = {}
    for b in batches:
        newest.update({(h, t): (h, u, t) for h, u, t in b})
    return sorted(newest.values())


def _rows(tbl):
    return sorted((r["host"], r["usage"], epoch_ms(r["ts"])) for r in tbl.read().collect())


def _check(tbl, monkeypatch, want):
    """The read equals ``want``, and so does a full-window read."""
    assert _rows(tbl) == want
    table_mod._SCANS.clear()
    with monkeypatch.context() as m:
        m.setattr(table_mod, "_overlapping", lambda files: set(files))
        assert _rows(tbl) == want
    table_mod._SCANS.clear()


def _listed(engine, name):
    return engine.catalog.files(name)


@pytest.mark.parametrize("mode", MODES)
def test_lone_key_unique_file_is_left_alone(engine, mode):
    tbl = _create(engine, "lone", mode)
    _write(engine, "lone", _grid(T0, 5) + _grid(T0 + 2 * H, 5))  # two leaves
    version, files = _listed(engine, "lone")
    assert len(files) == 2 and all(e["unique"] for e in files.values())
    assert tbl.compact() == 0
    assert _listed(engine, "lone") == (version, files)


def test_compact_of_settled_leaves_starts_no_spark_job(engine):
    """A table whose leaves each hold one key-unique file: compact() starts
    no Spark job and publishes no version."""
    tbl = _create(engine, "idle", "OVERWRITE")
    for s in range(4):
        _write(engine, "idle", _grid(T0 + s * 2 * H, 5))
    before = _listed(engine, "idle")
    sc = engine.spark.sparkContext
    sc.setJobGroup("idle-compact", "compact() with nothing to pick")
    try:
        assert tbl.compact() == 0
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("idle-compact") == []
    assert _listed(engine, "idle") == before


@pytest.mark.parametrize("mode, rewritten", [("APPEND", 0), ("OVERWRITE", 1)])
def test_lone_spark_written_file(engine, monkeypatch, mode, rewritten):
    """A Spark-written file is not key-unique: alone in its leaf, an
    OVERWRITE table rewrites it (the dedup makes it key-unique, and the
    next compact() leaves it), an APPEND table leaves it."""
    tbl = _create(engine, "spk", mode)
    batch = _grid(T0, 5) + _grid(T0, 5, hosts=("h0",))  # h0's rows twice
    _write(engine, "spk", batch, spark_writer=True)
    version, files = _listed(engine, "spk")
    assert [e["unique"] for e in files.values()] == [False]
    assert tbl.compact() == rewritten
    after_version, after = _listed(engine, "spk")
    assert after_version == version + rewritten
    assert [e["unique"] for e in after.values()] == [mode == "OVERWRITE"]
    assert tbl.compact() == 0
    want = _expected(mode, [batch])
    assert len(want) == (15 if mode == "APPEND" else 10)
    _check(tbl, monkeypatch, want)


@pytest.mark.parametrize("mode", MODES)
def test_settled_file_stays_while_small_files_merge(engine, monkeypatch, mode):
    """With ``target_file_bytes`` at the big file's size, the big file is
    settled: the two small files beside it (re-writes of one another's
    keys, after its range) merge, and it keeps its entry."""
    tbl = _create(engine, "tier", mode)
    big = _grid(T0, 1000)
    small = [_grid(T0 + H, 5), _grid(T0 + H, 5, usage=70.0)]
    for batch in [big, *small]:
        _write(engine, "tier", batch)
    _, files = _listed(engine, "tier")
    (big_path,) = [p for p, e in files.items() if e["rows"] == 2000]
    target = files[big_path]["bytes"]
    assert all(2 * e["bytes"] <= target for p, e in files.items() if p != big_path)
    assert tbl.compact(target_file_bytes=target) == 1
    _, after = _listed(engine, "tier")
    assert len(after) == 2 and after[big_path] == files[big_path]
    assert tbl.compact(target_file_bytes=target) == 0
    _check(tbl, monkeypatch, _expected(mode, [big, *small]))


def test_settled_file_overlapped_by_a_new_write_is_picked(engine, monkeypatch):
    """On an OVERWRITE table a re-write of keys inside the big file's range
    puts the big file in reach of the dedup: both are picked and merged."""
    tbl = _create(engine, "reach", "OVERWRITE")
    big = _grid(T0, 1000)
    rewrite = _grid(T0 + 10_000, 3, usage=5000.0)
    _write(engine, "reach", big)
    _write(engine, "reach", rewrite)
    _, files = _listed(engine, "reach")
    (big_path,) = [p for p, e in files.items() if e["rows"] == 2000]
    target = files[big_path]["bytes"]
    assert table_mod._overlapping(files) == set(files)
    assert tbl.compact(target_file_bytes=target) == 1
    _, after = _listed(engine, "reach")
    assert big_path not in after and all(e["unique"] for e in after.values())
    want = _expected("OVERWRITE", [big, rewrite])
    assert len(want) == 2000 and sum(r[1] >= 5000.0 for r in want) == 6
    _check(tbl, monkeypatch, want)


def test_output_that_meets_a_settled_file_is_picked_next(engine, monkeypatch):
    """Two small files, one before and one after the big file's range,
    merge into one file whose range spans the big file's: both then read
    as overlapping, and the next compact() merges them."""
    tbl = _create(engine, "span", "OVERWRITE")
    big = _grid(T0 + 600_000, 1000)  # [T0 + 10 min, T0 + ~27 min]
    before, after = _grid(T0, 5), _grid(T0 + H, 5)
    for batch in (big, before, after):
        _write(engine, "span", batch)
    _, files = _listed(engine, "span")
    (big_path,) = [p for p, e in files.items() if e["rows"] == 2000]
    target = files[big_path]["bytes"]
    assert table_mod._overlapping(files) == set()
    assert tbl.compact(target_file_bytes=target) == 1
    _, merged = _listed(engine, "span")
    assert len(merged) == 2 and merged[big_path] == files[big_path]
    assert table_mod._overlapping(merged) == set(merged)
    want = _expected("OVERWRITE", [big, before, after])
    _check(tbl, monkeypatch, want)
    assert tbl.compact(target_file_bytes=target) == 1
    _, final = _listed(engine, "span")
    assert big_path not in final and table_mod._overlapping(final) == set()
    _check(tbl, monkeypatch, want)


@pytest.mark.parametrize("mode", MODES)
def test_optimize_zorder_rewrites_every_leaf(engine, monkeypatch, mode):
    engine.execute_sql(
        "CREATE TABLE z (host string TAG, a bigint, b bigint, ts timestamp NOT NULL, "
        "TIMESTAMP KEY(ts)) ENGINE=Analytic "
        f"WITH (segment_duration='2h', enable_ttl='false', update_mode='{mode}')"
    )
    rows = [
        {"host": f"h{i % 3}", "a": i % 7, "b": i % 5, "ts": T0 + s * 2 * H + i * 1000}
        for s in range(3)
        for i in range(20)
    ]
    engine.insert_rows("z", ["host", "a", "b", "ts"], rows)
    tbl = engine.table("z")
    version, files = _listed(engine, "z")
    assert len(files) == 3 and all(e["unique"] for e in files.values())
    assert tbl.compact() == 0
    assert tbl.optimize_zorder(["a", "b"]) == 3
    after_version, after = _listed(engine, "z")
    assert after_version == version + 3 and not after.keys() & files.keys()
    got = sorted((r["host"], r["a"], r["b"], epoch_ms(r["ts"])) for r in tbl.read().collect())
    assert got == sorted((r["host"], r["a"], r["b"], r["ts"]) for r in rows)
