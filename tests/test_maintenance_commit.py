"""Maintenance rewrite commit protocol: rename-aside ordering, loud
failures on false-returning FS calls, crash recovery, and concurrent-read
behavior (ADVICE r04 table.py items + VERDICT r04 next-round #8).

The commit sequence is: rename live segment aside -> rename tmp into place
-> delete aside.  Guarantees tested here:
- every boolean FS result is checked (a false rename raises IOError
  instead of silently losing the segment);
- a failed second rename rolls the aside copy back into place;
- leftover tmp/aside directories from a crash are recovered on the next
  maintenance run (restore if the live dir is missing, drop otherwise)
  and never pollute reads, segment listing, or ttl_expire;
- a reader racing compact() never observes a MERGE or a partial segment:
  each observed row count is the full table or (in the documented
  one-metadata-op window) the table minus exactly one whole segment.
"""

from __future__ import annotations

import threading

import pytest

from incubator_horaedb_spark import fsops
from incubator_horaedb_spark.frontends.sql_shim import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


SEG_MS = 2 * 3600 * 1000


def _mk_table(
    engine, name: str, n_segments: int = 3, rows_per_seg: int = 40, partition: str = ""
):
    engine.execute_sql(
        f"CREATE TABLE {name} (k string TAG, v double, t timestamp NOT NULL, "
        f"timestamp KEY (t)) {partition} ENGINE=Analytic "
        "WITH(enable_ttl='false', update_mode='APPEND', segment_duration='2h')"
    )
    for s in range(n_segments):
        values = ", ".join(
            f"('k{i % 5}', {s * 1000 + i}, {s * SEG_MS + 1000 + i})"
            for i in range(rows_per_seg)
        )
        engine.execute_sql(f"INSERT INTO {name} (k, v, t) VALUES {values}")
    return engine.table(name)


def test_failed_first_rename_raises(engine, monkeypatch):
    tbl = _mk_table(engine, "mc1", n_segments=1)
    monkeypatch.setattr(fsops, "rename", lambda spark, src, dst: False)
    with pytest.raises(IOError, match="rename"):
        tbl.compact()
    # segment untouched — the failed rename never moved anything
    assert tbl.read().count() == 40


def test_failed_second_rename_rolls_back(engine, monkeypatch):
    tbl = _mk_table(engine, "mc2", n_segments=1)
    real_rename = fsops.rename

    def flaky(spark, src, dst):
        if "/.rewrite-tmp/" in src:  # the tmp -> live rename
            return False
        return real_rename(spark, src, dst)

    monkeypatch.setattr(fsops, "rename", flaky)
    with pytest.raises(IOError, match="rolled back"):
        tbl.compact()
    monkeypatch.setattr(fsops, "rename", real_rename)
    # rollback restored the live segment: full data still readable
    assert tbl.read().count() == 40
    # and a subsequent compact succeeds cleanly
    assert tbl.compact() == 1
    assert tbl.read().count() == 40


def test_failed_cleanup_delete_raises(engine, monkeypatch):
    tbl = _mk_table(engine, "mc3", n_segments=1)
    real_delete = fsops.delete

    def flaky(spark, path):
        if "/.rewrite-old/" in path:
            return False
        return real_delete(spark, path)

    monkeypatch.setattr(fsops, "delete", flaky)
    with pytest.raises(IOError, match="cleanup delete"):
        tbl.compact()
    monkeypatch.setattr(fsops, "delete", real_delete)
    # the rewrite itself committed; data intact, recovery drops the aside
    assert tbl.read().count() == 40
    tbl._recover_stale_rewrites()
    data = engine.catalog.data_dir("mc3")
    assert fsops.list_dirs(engine.spark, f"{data}/.rewrite-old") == []


def test_stale_tmp_and_aside_recovery(engine, spark):
    """Simulated crash states: (a) half-written tmp output, (b) an aside
    copy whose live dir is missing (crash between the two renames).  The
    next maintenance run must drop (a) and restore (b); neither state may
    pollute read(), _segment_dirs(), or ttl_expire.

    Run on an unpartitioned table and on a key-partitioned one, whose
    leaves are __partition=P/__segment=S: there the aside segment's
    partition directory is still live, so recovery must look at the
    segment, not the partition, to see that the aside copy is the only
    one."""
    for name, partition in (("mc4", ""), ("mc4p", "PARTITION BY KEY(k) PARTITIONS 2")):
        tbl = _mk_table(engine, name, n_segments=2, partition=partition)
        data = engine.catalog.data_dir(name)
        segs = [s for s, _ in tbl._segment_dirs()]
        assert len(segs) == (4 if partition else 2)

        # (a) leftover tmp from a crashed rewrite
        fsops.mkdirs(spark, f"{data}/.rewrite-tmp/{segs[0]}")
        # (b) crash between renames: live dir moved aside, tmp never promoted
        aside = f"{data}/.rewrite-old/{segs[-1]}"
        fsops.mkdirs(spark, aside.rsplit("/", 1)[0])
        assert fsops.rename(spark, f"{data}/{segs[-1]}", aside)

        # stale dirs are invisible to segment listing (dot-prefixed staging)
        assert [s for s, _ in tbl._segment_dirs()] == segs[:-1]
        # ttl_expire walks segment dirs without crashing on staging leftovers
        assert tbl.ttl_expire() == 0

        # compact() recovers first: aside restored, tmp dropped, all rows back
        assert tbl.compact() == len(segs)
        assert tbl.read().count() == 80
        assert fsops.list_dirs(spark, f"{data}/.rewrite-tmp") == []
        assert fsops.list_dirs(spark, f"{data}/.rewrite-old") == []


def test_segment_dirs_filters_non_digit_names(engine, spark):
    """_segment_dirs must match exactly __segment=<digits>: a legacy-style
    leftover like '__segment=0.compact' (pre-r05 tmp naming) must neither
    crash ttl_expire's int() nor be treated as a rewritable segment."""
    tbl = _mk_table(engine, "mc5", n_segments=1)
    data = engine.catalog.data_dir("mc5")
    fsops.mkdirs(spark, f"{data}/__segment=0.compact")
    names = [s for s, _ in tbl._segment_dirs()]
    assert names == ["__segment=0"]
    assert tbl.ttl_expire() == 0  # would raise ValueError on int('0.compact')
    fsops.delete(spark, f"{data}/__segment=0.compact")


def test_concurrent_reader_sees_whole_segments_only(engine, spark):
    """A reader racing compact() on an APPEND table must never get a WRONG
    answer: every successful count is the full row count or full minus
    exactly one whole in-flight segment (the documented one-metadata-op
    absent window) — never a merge of old and new files (double rows) and
    never a torn segment.  A scan that PLANNED over pre-rewrite files and
    executed after the swap fails loudly with Spark's FILE_NOT_EXIST
    (optimistic-concurrency conflict — the reader retries); any other
    error, or a count outside the allowed set, is a real defect."""
    n_segments, rows = 3, 60
    tbl = _mk_table(engine, "mc6", n_segments=n_segments, rows_per_seg=rows)
    total = n_segments * rows
    allowed = {total, total - rows}
    observed: list[int] = []
    conflicts: list[Exception] = []
    errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                observed.append(tbl.read().count())
            except Exception as e:  # noqa: BLE001 — collected for assertion
                msg = str(e)
                if "FILE_NOT_EXIST" in msg or "FileNotFound" in msg:
                    conflicts.append(e)  # loud conflict, not a wrong answer
                else:
                    errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(3):
            assert tbl.compact() == n_segments
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:3]
    assert observed, "reader never completed a count"
    bad = [c for c in observed if c not in allowed]
    assert not bad, f"torn reads: {sorted(set(bad))} not in {allowed}"
    assert tbl.read().count() == total
