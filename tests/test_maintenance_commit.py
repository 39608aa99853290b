"""The file-list commit protocol (catalog.py, table.py ``Table._commit``):
loud failures on false-returning FS calls, crash leftovers, and readers
racing rewrites.

An append writes its files into a private staging directory, moves them
into their ``[__partition=P/]__segment=S`` leaves and publishes one new
version of the table's file list; a rewrite does the same and its version
drops exactly the files it read, which are deleted after the publish.
Only a published version makes a file visible.  Guarantees tested here:
- every boolean FS result is checked: a false move or delete raises
  IOError and loses nothing;
- a crash at any step of an append (by either writer: a request batch
  written on the driver, or a frame written by a Spark job) or of a
  rewrite commit loses no acknowledged row and shows no partial batch;
  the files it leaves are in no version, so reads, the leaf walk and
  ttl_expire never see them, and the sweep when the store is next opened
  deletes them;
- an append acknowledged while a rewrite of its leaf is in flight
  survives the rewrite's commit;
- a reader racing compact() always sees the whole table;
- a maintenance sweep whose table fails still sweeps the others.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from incubator_horaedb_spark import fsops
from incubator_horaedb_spark.catalog import Catalog
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.maintenance import run_maintenance
from incubator_horaedb_spark.table import Table


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


SEG_MS = 2 * 3600 * 1000


def _insert(engine, name: str, seg: int, rows: int, tag: str = "k") -> None:
    values = ", ".join(
        f"('{tag}{i % 5}', {seg * 1000 + i}, {seg * SEG_MS + 1000 + i})" for i in range(rows)
    )
    engine.execute_sql(f"INSERT INTO {name} (k, v, t) VALUES {values}")


def _mk_table(
    engine, name: str, n_segments: int = 3, rows_per_seg: int = 40, partition: str = ""
):
    engine.execute_sql(
        f"CREATE TABLE {name} (k string TAG, v double, t timestamp NOT NULL, "
        f"timestamp KEY (t)) {partition} ENGINE=Analytic "
        "WITH(enable_ttl='false', update_mode='APPEND', segment_duration='2h')"
    )
    for s in range(n_segments):
        _insert(engine, name, s, rows_per_seg)
    return engine.table(name)


def _orphans(engine, name: str) -> set[str]:
    """Parquet files under the table's data dir that no version lists."""
    on_disk = fsops.list_files(engine.spark, engine.catalog.data_dir(name))
    return on_disk.keys() - engine.catalog.files(name)[1].keys()


def _reopen(engine) -> Engine:
    return Engine(engine.spark, engine.catalog.root)


class Crash(Exception):
    """Stands in for the process dying at one commit step."""


def _crash_at(monkeypatch, step: str) -> None:
    """Make the next commit die at ``step``: before moving its staged
    files (``staged``), after moving them but before publishing
    (``moved``), or right after publishing (``published``).  A dead
    process cleans nothing up, so deletes do nothing until then."""

    def crash(*_a, **_k):
        raise Crash(step)

    monkeypatch.setattr(fsops, "delete", crash if step == "published" else lambda *a, **k: True)
    if step == "staged":
        monkeypatch.setattr(fsops, "rename", crash)
    elif step == "moved":
        monkeypatch.setattr(Catalog, "publish", crash)


def test_failed_first_rename_raises(engine, monkeypatch):
    """A move that returns false fails the append or the rewrite loudly;
    nothing becomes visible and nothing is lost."""
    tbl = _mk_table(engine, "mc1", n_segments=1)
    _insert(engine, "mc1", 0, 10, tag="y")  # a second file: compact() rewrites the leaf
    monkeypatch.setattr(fsops, "rename", lambda spark, src, dst: False)
    with pytest.raises(IOError, match="move"):
        _insert(engine, "mc1", 0, 10, tag="x")
    with pytest.raises(IOError, match="move"):
        tbl.compact()
    monkeypatch.undo()
    assert tbl.read().count() == 50
    assert not _orphans(_reopen(engine), "mc1")


def test_failed_second_rename_rolls_back(engine, monkeypatch):
    """An append spanning two leaves whose second move fails shows
    neither file: the first, already moved, is in no version."""
    tbl = _mk_table(engine, "mc2", n_segments=1)
    real_rename = fsops.rename
    moves = set()

    def flaky(spark, src, dst):
        moves.add(src)  # a move into a new leaf is retried after mkdirs
        return len(moves) < 2 and real_rename(spark, src, dst)

    monkeypatch.setattr(fsops, "rename", flaky)
    values = f"('x', 1, 1000), ('x', 2, {SEG_MS + 1000})"  # segments 0 and 1
    with pytest.raises(IOError, match="move"):
        engine.execute_sql(f"INSERT INTO mc2 (k, v, t) VALUES {values}")
    monkeypatch.undo()
    assert len(moves) == 2
    assert tbl.read().count() == 40
    assert len(_orphans(engine, "mc2")) == 1  # the moved, unpublished file
    _insert(engine, "mc2", 0, 10, tag="y")  # a second file: compact() rewrites the leaf
    assert tbl.compact() == 1
    assert tbl.read().count() == 50
    assert not _orphans(_reopen(engine), "mc2")


def test_failed_cleanup_delete_raises(engine, monkeypatch):
    """A replaced file that cannot be deleted fails compact() loudly after
    its commit: the new version is live, the old file is in no version,
    and the sweep at open reclaims it."""
    tbl = _mk_table(engine, "mc3", n_segments=1)
    _insert(engine, "mc3", 0, 10, tag="x")  # two files in the leaf
    monkeypatch.setattr(fsops, "delete", lambda spark, path, recursive=True: False)
    with pytest.raises(IOError, match="delete"):
        tbl.compact()
    monkeypatch.undo()
    assert tbl.read().count() == 50
    assert len(engine.catalog.files("mc3")[1]) == 1
    assert len(_orphans(engine, "mc3")) == 2
    fresh = _reopen(engine)
    assert not _orphans(fresh, "mc3")
    assert fresh.table("mc3").read().count() == 50


@pytest.mark.parametrize("op", ["append", "spark_append", "rewrite"])
@pytest.mark.parametrize("step", ["staged", "moved", "published"])
def test_crash_at_each_commit_step(engine, monkeypatch, op, step):
    tbl = _mk_table(engine, "mc8", n_segments=2, partition="PARTITION BY KEY(k) PARTITIONS 2")
    _insert(engine, "mc8", 0, 10, tag="x")
    acked = 90
    # 20 rows for segment 1 from a range, which does not fold: the Spark writer
    ids = engine.spark.range(20)
    frame = ids.select(
        F.concat(F.lit("y"), (F.col("id") % 5).cast("string")).alias("k"),
        (F.col("id") + 1000).cast("double").alias("v"),
        F.timestamp_millis(F.col("id") + SEG_MS + 1000).alias("t"),
    )
    with pytest.raises(Crash):
        _crash_at(monkeypatch, step)
        if op == "append":  # a request batch: the driver writer
            _insert(engine, "mc8", 1, 20, tag="y")
        elif op == "spark_append":
            tbl.write(frame)
        else:
            tbl.compact()
    monkeypatch.undo()
    # an append is visible whole once published, else not at all
    published_append = op != "rewrite" and step == "published"
    expected = acked + (20 if published_append else 0)
    assert tbl.read().count() == expected
    data = engine.catalog.data_dir("mc8")
    assert os.listdir(f"{data}/.staging")
    assert bool(_orphans(engine, "mc8")) != published_append
    fresh_engine = _reopen(engine)
    fresh = fresh_engine.table("mc8")
    assert not _orphans(engine, "mc8")
    assert not os.path.exists(f"{data}/.staging")
    assert fresh.read().count() == expected
    for s in range(2):  # a new file in every leaf: compact() rewrites each
        _insert(fresh_engine, "mc8", s, 10)
    assert fresh.compact() == len(fresh._leaves())
    assert fresh.read().count() == expected + 20


def test_stale_tmp_and_aside_recovery(engine, spark, monkeypatch):
    """Leftovers of crashed commits — a staged append, a moved append and
    a moved rewrite output — never pollute read(), the leaf walk or
    ttl_expire, and the sweep at open deletes them.

    Run on an unpartitioned table and on a key-partitioned one, whose
    leaves are __partition=P/__segment=S."""
    for name, partition in (("mc4", ""), ("mc4p", "PARTITION BY KEY(k) PARTITIONS 2")):
        tbl = _mk_table(engine, name, n_segments=2, rows_per_seg=20, partition=partition)
        for s in range(2):  # a second file in every leaf: compact() rewrites each
            _insert(engine, name, s, 20)
        leaves = list(tbl._leaves())
        assert len(leaves) == (4 if partition else 2)
        for step, crash in (("staged", "append"), ("moved", "append"), ("moved", "rewrite")):
            with pytest.raises(Crash):
                _crash_at(monkeypatch, step)
                if crash == "append":
                    _insert(engine, name, 2, 20, tag="y")  # a new segment
                else:
                    tbl.compact()
            monkeypatch.undo()
        assert _orphans(engine, name)
        assert list(tbl._leaves()) == leaves
        assert tbl.read().count() == 80
        assert tbl.ttl_expire() == 0
        assert tbl.compact() == len(leaves)
        assert tbl.read().count() == 80
        fresh = _reopen(engine)
        assert not _orphans(fresh, name)
        assert not os.path.exists(f"{engine.catalog.data_dir(name)}/.staging")
        assert fresh.table(name).read().count() == 80


def test_segment_dirs_filters_non_digit_names(engine, spark):
    """Only files a version lists are leaves: a foreign directory like
    '__segment=0.compact' holding a parquet file is neither read, nor
    walked by compact() or ttl_expire, and the sweep at open deletes the
    file."""
    tbl = _mk_table(engine, "mc5", n_segments=1)
    data = engine.catalog.data_dir("mc5")
    (live,) = engine.catalog.files("mc5")[1]
    os.makedirs(f"{data}/__segment=0.compact")
    shutil.copy(f"{data}/{live}", f"{data}/__segment=0.compact/x.parquet")
    _insert(engine, "mc5", 0, 10, tag="y")  # a second file: compact() rewrites the leaf
    assert list(tbl._leaves()) == ["__segment=0"]
    assert tbl.read().count() == 50
    assert tbl.ttl_expire() == 0
    assert tbl.compact() == 1
    assert tbl.read().count() == 50
    assert _orphans(engine, "mc5") == {"__segment=0.compact/x.parquet"}
    assert not _orphans(_reopen(engine), "mc5")


def test_append_acknowledged_inside_rewrite_commit_survives(engine, monkeypatch):
    """An append into a leaf, acknowledged after compact() has written
    that leaf's replacement and before it commits, is still counted
    afterwards: the rewrite replaces only the files it read."""
    tbl = _mk_table(engine, "mc7", n_segments=1)
    _insert(engine, "mc7", 0, 10, tag="y")  # a second file: compact() rewrites the leaf
    real = DataFrameWriter.parquet
    state = {"compacting": False, "acked": False}

    def parquet(self, path, *a, **k):
        out = real(self, path, *a, **k)
        if state["compacting"] and not state["acked"]:
            state["acked"] = True  # the rewrite's output is written
            engine.execute_sql("INSERT INTO mc7 (k, v, t) VALUES ('late', 1, 1500)")
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    state["compacting"] = True
    tbl.compact()
    assert state["acked"]
    assert engine.execute_sql("SELECT count(*) AS n FROM mc7").collect()[0]["n"] == 51


def test_table_without_file_list_is_adopted_at_open(engine):
    """A table written before file lists existed gets its first one when
    the store is opened: the files the directory listing read, plus a
    leaf an interrupted rename-aside rewrite left only in its
    ``.rewrite-old/`` copy.  A stale aside copy of a live leaf, a
    half-written ``.rewrite-tmp/`` output and a crashed Spark write's
    ``_temporary/`` file are not adopted, and the sweep deletes them."""
    _mk_table(engine, "mc9", n_segments=3)
    data = engine.catalog.data_dir("mc9")
    os.remove(os.path.join(engine.catalog.table_dir("mc9"), "_files.json"))
    (seg0,) = [p for p in os.listdir(f"{data}/__segment=0") if p.endswith(".parquet")]
    os.makedirs(f"{data}/.rewrite-old")
    os.rename(f"{data}/__segment=1", f"{data}/.rewrite-old/__segment=1")
    for stale in (".rewrite-old/__segment=0", ".rewrite-tmp/__segment=2", "_temporary/0"):
        os.makedirs(f"{data}/{stale}")
        shutil.copy(f"{data}/__segment=0/{seg0}", f"{data}/{stale}/x.parquet")
    fresh = _reopen(engine)
    version, files = fresh.catalog.files("mc9")
    assert version == 0 and sorted(p.split("/")[0] for p in files) == [
        "__segment=0", "__segment=1", "__segment=2"
    ]
    assert not _orphans(fresh, "mc9")
    tbl = fresh.table("mc9")
    assert tbl.read().count() == 120
    for s in range(3):  # a second file in every leaf: compact() rewrites each
        _insert(fresh, "mc9", s, 10, tag="y")
    assert tbl.compact() == 3
    assert tbl.read().count() == 150


def test_table_name_with_semicolon_keeps_rows(engine):
    """A protocol measurement may name a table ``cpu;x``: its appends and
    compact() see every file under that directory."""
    from incubator_horaedb_spark.streaming.ingest import ingest_rows

    for i in range(2):
        rows = [{"ts": 1000 + 10 * i + j, "host": f"h{j}", "v": float(j)} for j in range(5)]
        ingest_rows(engine, "cpu;x", rows, tag_cols=["host"])
    tbl = engine.table("cpu;x")
    assert len(engine.catalog.files("cpu;x")[1]) == 2
    assert tbl.compact() == 1
    assert len(engine.catalog.files("cpu;x")[1]) == 1
    assert tbl.read(now_ms=2000).count() == 10  # auto-created: TTL on
    assert not _orphans(engine, "cpu;x")


def test_rewrite_that_writes_nothing_raises(engine, monkeypatch):
    """A rewrite whose write leaves no file fails loudly instead of
    committing a version that drops the leaf."""
    tbl = _mk_table(engine, "mc10", n_segments=1)
    _insert(engine, "mc10", 0, 10, tag="y")  # a second file: compact() rewrites the leaf
    monkeypatch.setattr(DataFrameWriter, "parquet", lambda self, path, *a, **k: None)
    with pytest.raises(IOError, match="found none"):
        tbl.compact()
    monkeypatch.undo()
    assert tbl.read().count() == 50
    assert not _orphans(engine, "mc10")


def test_concurrent_reader_sees_whole_segments_only(engine, spark):
    """A reader racing compact() on an APPEND table sees the whole table
    in every successful count: a version names either a leaf's old files
    or its new ones, never neither and never both.  A scan that PLANNED
    over replaced files and executed after their delete fails loudly
    (optimistic-concurrency conflict — the reader retries): with Spark's
    FILE_NOT_EXIST, or, when the file went between its footer read and its
    data read, FAILED_READ_FILE caused by java.nio's NoSuchFileException
    (Hadoop's vectored read opens the file again).  Any other error, or any
    other count, is a defect.

    Before each of the three compact() calls every leaf gets one more file,
    so each call rewrites every leaf.  Those appends are made while no read
    is in flight (``gate``), so each count has one right answer."""
    n_segments, rows = 3, 60
    tbl = _mk_table(engine, "mc6", n_segments=n_segments, rows_per_seg=rows)
    total = n_segments * rows
    observed: list[tuple[int, int]] = []  # (count, rows in the table)
    conflicts: list[Exception] = []
    errors: list[Exception] = []
    stop = threading.Event()
    gate = threading.Lock()  # held by a read, and by the appends between calls

    def reader():
        while not stop.is_set():
            try:
                with gate:
                    observed.append((tbl.read().count(), total))
            except Exception as e:  # noqa: BLE001 — collected for assertion
                msg = str(e)
                if any(m in msg for m in ("FILE_NOT_EXIST", "FileNotFound", "NoSuchFileException")):
                    conflicts.append(e)  # loud conflict, not a wrong answer
                else:
                    errors.append(e)
            time.sleep(0.01)  # lets the appends between calls take the gate

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(3):
            with gate:
                for s in range(n_segments):
                    _insert(engine, "mc6", s, 10, tag="y")
                total += n_segments * 10
            assert tbl.compact() == n_segments
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:3]
    assert observed, "reader never completed a count"
    bad = [(c, want) for c, want in observed if c != want]
    assert not bad, f"partial reads (count, table rows): {sorted(set(bad))}"
    assert tbl.read().count() == total


def test_sweep_ends_every_table_before_raising_the_first_failure(engine, monkeypatch):
    """run_maintenance sweeps tables side by side: a table whose sweep
    fails does not stop the others, and the first failure in table order
    is raised once every table's sweep has ended."""
    names = ["sw_a", "sw_b", "sw_c", "sw_d", "sw_e"]
    for name in names:
        _mk_table(engine, name, n_segments=1, rows_per_seg=10)
        _insert(engine, name, 0, 10)  # a second file in the one leaf
    failing = {"sw_b", "sw_d"}
    compact = Table.compact

    def compact_or_fail(self, *args, **kwargs):
        if self.name in failing:
            raise IOError(f"{self.name}: disk full")
        return compact(self, *args, **kwargs)

    monkeypatch.setattr(Table, "compact", compact_or_fail)
    with pytest.raises(IOError, match="sw_b: disk full"):
        run_maintenance(engine, tables=names, expire=False)
    for name in names:
        files = [len(f) for f in engine.table(name)._leaves().values()]
        assert files == [2 if name in failing else 1], name
