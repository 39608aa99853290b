"""``Table.read`` equivalence: every step of the one table scan, alone and
combined, checked against rows computed in Python.

The steps are partition pruning (``filters``), time bounds (``lo_ms`` /
``hi_ms``), the sequence snapshot (``as_of_seq``), TTL (``now_ms``) and
the Overwrite dedup.  Each runs on APPEND and OVERWRITE tables, with and
without ``PARTITION BY KEY``, populated and empty.
"""

from __future__ import annotations

import os
import time

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.functions.timeutil import epoch_ms

H = 3_600_000
SEG_MS = 2 * H
TTL_MS = 24 * H
# Rows sit just behind the wall clock, so a read without ``now_ms`` keeps
# every row under the 1-day TTL; the TTL cases pass an explicit now_ms.
BASE = (int(time.time() * 1000) - 12 * H) // SEG_MS * SEG_MS

# one INSERT per batch, so batch i carries __seq = i + 1
_GRID = [(f"k{i}", float(i * 10 + j), BASE + j * 90 * 60_000) for i in range(4) for j in range(6)]
BATCHES = [
    _GRID,
    [(k, v + 1000, t) for k, v, t in _GRID if k in ("k1", "k2") and t < BASE + 4 * H]
    + [("k3", 500.0, BASE + 9 * H)],
    [(k, v + 2000, t) for k, v, t in _GRID if k == "k2" and t >= BASE + 3 * H]
    + [("k0", 600.0, BASE + 30 * 60_000)],
]
ROWS = [(k, v, t, seq) for seq, batch in enumerate(BATCHES, 1) for k, v, t in batch]

LO, HI = BASE + 150 * 60_000, BASE + 6 * H  # edges inside segments 1 and 3
CASES = {
    "no_bounds": {},
    "time_bounds": {"lo_ms": LO, "hi_ms": HI},
    "lo_only": {"lo_ms": LO},
    "hi_only": {"hi_ms": HI},
    "filter": {"filters": {"k": "k2"}},
    "filter_list": {"filters": {"k": ["k0", "k2"]}},
    "filter_time": {"filters": {"k": ["k1", "k2"]}, "lo_ms": LO, "hi_ms": HI},
    "as_of_seq": {"as_of_seq": 2},
    "time_as_of_seq": {"lo_ms": LO, "hi_ms": HI, "as_of_seq": 2},
    "ttl": {"now_ms": BASE + TTL_MS + 4 * H},
    "all_steps": {
        "filters": {"k": ["k1", "k2"]},
        "lo_ms": LO,
        "hi_ms": HI,
        "as_of_seq": 2,
        "now_ms": BASE + TTL_MS + 4 * H,
    },
}
MODES = ["APPEND", "OVERWRITE"]
LAYOUTS = {"unpartitioned": "", "key_partitioned": "PARTITION BY KEY(k) PARTITIONS 4"}


def expected(mode, lo_ms=None, hi_ms=None, filters=None, as_of_seq=None, now_ms=None):
    rows = [
        r
        for r in ROWS
        if (lo_ms is None or r[2] >= lo_ms)
        and (hi_ms is None or r[2] < hi_ms)
        and (as_of_seq is None or r[3] <= as_of_seq)
        and (now_ms is None or r[2] >= now_ms - TTL_MS)
    ]
    if mode == "OVERWRITE":
        newest: dict[tuple, tuple] = {}
        for r in rows:
            if (r[0], r[2]) not in newest or r[3] > newest[(r[0], r[2])][3]:
                newest[(r[0], r[2])] = r
        rows = list(newest.values())
    for c, v in (filters or {}).items():
        assert c == "k"
        rows = [r for r in rows if r[0] in (v if isinstance(v, list) else [v])]
    return sorted(rows)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    engine = Engine(spark, str(tmp_path_factory.mktemp("table_read") / "store"))
    out = {}
    for mode in MODES:
        for layout, partition in LAYOUTS.items():
            for populated in (True, False):
                name = f"r_{mode[0]}_{layout[0]}_{int(populated)}".lower()
                engine.execute_sql(
                    f"CREATE TABLE {name} (k string TAG, v double, t timestamp NOT NULL, "
                    f"timestamp KEY (t)) {partition} ENGINE=Analytic WITH(enable_ttl='true', "
                    f"ttl='1d', update_mode='{mode}', segment_duration='2h')"
                )
                for batch in BATCHES if populated else []:
                    values = ", ".join(f"('{k}', {v}, {t})" for k, v, t in batch)
                    engine.execute_sql(f"INSERT INTO {name} (k, v, t) VALUES {values}")
                out[(mode, layout, populated)] = engine.table(name)
    return out


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("layout", list(LAYOUTS))
@pytest.mark.parametrize("mode", MODES)
def test_read_matches_python_rows(tables, mode, layout, case):
    df = tables[(mode, layout, True)].read(with_internal=True, **CASES[case])
    assert df.columns == ["k", "v", "t", "tsid", "__seq"]
    got = sorted((r["k"], r["v"], epoch_ms(r["t"]), r["__seq"]) for r in df.collect())
    assert got == expected(mode, **CASES[case])


@pytest.mark.parametrize("layout", list(LAYOUTS))
@pytest.mark.parametrize("mode", MODES)
def test_empty_table_reads_empty(tables, mode, layout):
    tbl = tables[(mode, layout, False)]
    for case, kwargs in CASES.items():
        df = tbl.read(**kwargs)
        assert df.columns == ["k", "v", "t"], case
        assert df.collect() == [], case


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_non_key_filter_sees_only_newest_version(spark, tmp_path, layout):
    """On an OVERWRITE table a filter on a non-key column applies to the
    deduped rows: with versions "old" then "new" of one key, filtering on
    "old" returns nothing, with or without partition pruning."""
    engine = Engine(spark, str(tmp_path / "store"))
    engine.execute_sql(
        f"CREATE TABLE nk (k string TAG, s string, t timestamp NOT NULL, timestamp KEY (t)) "
        f"{LAYOUTS[layout]} ENGINE=Analytic WITH(enable_ttl='false', update_mode='OVERWRITE')"
    )
    for s in ("old", "new"):
        engine.execute_sql(f"INSERT INTO nk (k, s, t) VALUES ('k1', '{s}', {BASE})")
    tbl = engine.table("nk")
    assert tbl.read(filters={"s": "old"}).collect() == []
    assert tbl.read(filters={"k": "k1", "s": "old"}).collect() == []
    assert [r["s"] for r in tbl.read(filters={"s": "new"}).collect()] == ["new"]
    assert [r["s"] for r in tbl.read(filters={"k": ["k1"], "s": "new"}).collect()] == ["new"]


@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_ttl_read_prunes_expired_segments(spark, tmp_path, layout):
    """A TTL read bounds ``__segment`` by ``now - ttl``, so it never opens a
    wholly expired segment: with that segment's file deleted out of band
    (still listed, so the read reuses the scan planned before the delete)
    the read still returns every live row."""
    engine = Engine(spark, str(tmp_path / "store"))
    engine.execute_sql(
        f"CREATE TABLE tp (k string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        f"{LAYOUTS[layout]} ENGINE=Analytic WITH(enable_ttl='true', ttl='1d', "
        "update_mode='OVERWRITE', segment_duration='2h')"
    )
    expired_seg = BASE // SEG_MS - 24
    for t in (expired_seg * SEG_MS + 1000, BASE + 1000):
        values = ", ".join(f"('k{i}', {i}, {t + i})" for i in range(4))
        engine.execute_sql(f"INSERT INTO tp (k, v, t) VALUES {values}")
    tbl = engine.table("tp")
    assert tbl.read().count() == 4
    data = engine.catalog.data_dir("tp")
    gone = [p for p in engine.catalog.files("tp")[1] if f"__segment={expired_seg}/" in p]
    assert gone
    for p in gone:
        os.remove(os.path.join(data, p))
    assert sorted(r["v"] for r in tbl.read().collect()) == [0.0, 1.0, 2.0, 3.0]


def _shrunk(engine, name, with_, t):
    """A table of 10 rows at ``t`` written under segment_duration '2h',
    then altered to '1h': its leaf keeps the name the old duration gave."""
    engine.execute_sql(
        f"CREATE TABLE {name} (k string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        f"ENGINE=Analytic WITH(segment_duration='2h'{with_})"
    )
    values = ", ".join(f"('k{i}', {i}, {t + i})" for i in range(10))
    engine.execute_sql(f"INSERT INTO {name} (k, v, t) VALUES {values}")
    engine.execute_sql(f"ALTER TABLE {name} MODIFY SETTING segment_duration='1h'")
    return engine.table(name)


def _count(engine, sql):
    return engine.execute_sql(sql).collect()[0]["n"]


def test_rows_written_before_a_shorter_segment_duration_stay_live(spark, tmp_path):
    """TTL on (the default): the TTL read and ``ttl_expire`` bound segments
    by the file list, not by the current duration, so the rows written an
    hour ago under the old duration are still read and their leaf kept."""
    engine = Engine(spark, str(tmp_path / "store"))
    tbl = _shrunk(engine, "sd", "", int(time.time() * 1000) - H)
    assert tbl.meta.options.enable_ttl
    assert _count(engine, "SELECT count(*) AS n FROM sd") == 10
    assert tbl.ttl_expire() == 0
    assert tbl.read().count() == 10


def test_bounded_read_after_a_shorter_segment_duration(spark, tmp_path):
    """TTL off: ``read(lo_ms, hi_ms)`` finds the rows of a leaf named under
    the old duration, as the SQL time filter and the unbounded read do."""
    engine = Engine(spark, str(tmp_path / "store"))
    t0 = BASE - 48 * H
    tbl = _shrunk(engine, "sdb", ", enable_ttl='false'", t0 + H)
    assert tbl.read(lo_ms=t0 + H, hi_ms=t0 + 2 * H).count() == 10
    assert tbl.read(lo_ms=t0 + H + 5, hi_ms=t0 + 2 * H).count() == 5
    assert tbl.read(hi_ms=t0 + H + 5).count() == 5
    assert tbl.read(lo_ms=t0 + 2 * H).count() == 0
    assert tbl.read().count() == 10
    assert _count(engine, f"SELECT count(*) AS n FROM sdb WHERE t >= {t0 + H}") == 10


def test_expired_leaf_of_an_older_segment_duration_is_dropped(spark, tmp_path):
    """A leaf named under the old duration whose rows are all past the TTL
    is still dropped; a live leaf written under the new one is kept."""
    engine = Engine(spark, str(tmp_path / "store"))
    now = BASE + 12 * H
    tbl = _shrunk(engine, "sde", ", ttl='1d'", now - 3 * 24 * H)
    values = ", ".join(f"('k{i}', {i}, {now - H + i})" for i in range(4))
    engine.execute_sql(f"INSERT INTO sde (k, v, t) VALUES {values}")
    assert len(tbl._leaves()) == 2
    assert tbl.read(now_ms=now).count() == 4
    assert tbl.ttl_expire(now_ms=now) == 1
    assert [leaf.rsplit("=", 1)[1] for leaf in tbl._leaves()] == [str((now - H) // H)]
    assert tbl.read(now_ms=now).count() == 4
