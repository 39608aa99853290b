"""The one-task read (table.py ``Table._split_scans``): when the files a
read covers hold less than ``scale.GATE_BYTES`` in all, each side of the
read (the plain scan, the scan under the dedup window) is one partition,
so a statement over the table plans no exchange and runs as one Spark job.

- Under the gate, an APPEND table and OVERWRITE tables with only
  non-overlapping files, only overlapping files and both: a ``GROUP BY``
  statement starts one Spark job, its executed plan has no ``Exchange``,
  and it returns the rows computed in Python.
- Fired (``scale.GATE_BYTES`` below the table's bytes): the plan keeps its
  ``Exchange`` and the same rows come back.
- Pruning: a time-bounded read and a key-partitioned ``filters=`` read keep
  their ``PartitionFilters`` on the ``FileScan`` under the ``Coalesce``.

Every read is also compared with a full-window read (``_overlapping``
forced to name every file).
"""

from __future__ import annotations

import re
import uuid

import pytest

from incubator_horaedb_spark import scale
from incubator_horaedb_spark import table as table_mod
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.functions.timeutil import epoch_ms

H = 3_600_000
T0 = 1_700_000_000_000 - 1_700_000_000_000 % (2 * H)  # a segment start


def _grid(t0, n, usage=0.0, hosts=("h0", "h1", "h2")):
    return [(h, usage + i, t0 + i * 1000) for h in hosts for i in range(n)]


# (update mode, batches, plain files, overlapping files)
SHAPES = {
    "append": ("APPEND", [_grid(T0, 5), _grid(T0, 3, usage=50.0)], 2, 0),
    "disjoint": ("OVERWRITE", [_grid(T0, 5), _grid(T0 + 2 * H, 5)], 2, 0),
    "overlapping": ("OVERWRITE", [_grid(T0, 5), _grid(T0, 3, usage=50.0)], 0, 2),
    "both": (
        "OVERWRITE",
        [_grid(T0, 5), _grid(T0, 3, usage=50.0), _grid(T0 + 2 * H, 5, usage=7.0)],
        1,
        2,
    ),
}
STATEMENT = "SELECT host, count(*) AS n, sum(usage) AS s FROM {} GROUP BY host"


@pytest.fixture()
def engine(spark, tmp_path):
    table_mod._SCANS.clear()
    yield Engine(spark, str(tmp_path / "store"))
    table_mod._SCANS.clear()


def _create(engine, name, mode, partition=""):
    engine.execute_sql(
        f"CREATE TABLE {name} (host string TAG, usage double, ts timestamp NOT NULL, "
        f"TIMESTAMP KEY(ts)) {partition} ENGINE=Analytic "
        f"WITH (segment_duration='2h', enable_ttl='false', update_mode='{mode}')"
    )
    return engine.table(name)


def _load(engine, name, shape):
    mode, batches, n_plain, n_over = SHAPES[shape]
    tbl = _create(engine, name, mode)
    for b in batches:
        engine.insert_rows(
            name, ["host", "usage", "ts"], [{"host": h, "usage": u, "ts": t} for h, u, t in b]
        )
    files = engine.catalog.files(name)[1]
    over = table_mod._overlapping(files) if mode == "OVERWRITE" else set()
    assert (len(files) - len(over), len(over)) == (n_plain, n_over)
    return tbl, _expected(mode, batches)


def _expected(mode, batches):
    """The table's rows (host, usage, ts_ms): every row, or the newest per key."""
    if mode == "APPEND":
        return sorted(r for b in batches for r in b)
    newest = {}
    for b in batches:
        newest.update({(h, t): (h, u, t) for h, u, t in b})
    return sorted(newest.values())


def _grouped(rows):
    out = {}
    for h, u, _ in rows:
        n, s = out.get(h, (0, 0.0))
        out[h] = (n + 1, s + u)
    return sorted((h, n, s) for h, (n, s) in out.items())


def _run(engine, sql):
    """``sql``'s rows, its executed plan and the Spark jobs it started."""
    sc = engine.spark.sparkContext
    group = f"read-gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, sql)
    try:
        df = engine.execute_sql(sql)
        rows = sorted(tuple(r) for r in df.collect())
    finally:
        sc._jsc.clearJobGroup()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, plan, len(sc.statusTracker().getJobIdsForGroup(group))


def _read_rows(tbl, **kw):
    return sorted((r["host"], r["usage"], epoch_ms(r["ts"])) for r in tbl.read(**kw).collect())


def _full_window(tbl, monkeypatch, **kw):
    """``tbl.read(**kw)`` with every file under the dedup window."""
    table_mod._SCANS.clear()
    with monkeypatch.context() as m:
        m.setattr(table_mod, "_overlapping", lambda files: set(files))
        rows = _read_rows(tbl, **kw)
    table_mod._SCANS.clear()
    return rows


@pytest.mark.parametrize("shape", list(SHAPES))
def test_small_read_runs_one_job_with_no_exchange(engine, monkeypatch, shape):
    tbl, want = _load(engine, "g", shape)
    assert sum(e["bytes"] for e in engine.catalog.files("g")[1].values()) < scale.GATE_BYTES
    rows, plan, jobs = _run(engine, STATEMENT.format("g"))
    assert rows == _grouped(want)
    assert jobs == 1
    assert "Exchange" not in plan and "Coalesce 1" in plan, plan
    assert _read_rows(tbl) == want
    assert _full_window(tbl, monkeypatch) == want


@pytest.mark.parametrize("shape", list(SHAPES))
def test_fired_gate_keeps_the_exchange(engine, monkeypatch, shape):
    tbl, want = _load(engine, "f", shape)
    table_mod._SCANS.clear()
    monkeypatch.setattr(scale, "GATE_BYTES", 1)
    rows, plan, _ = _run(engine, STATEMENT.format("f"))
    assert rows == _grouped(want)
    assert "Exchange" in plan and "Coalesce" not in plan, plan
    assert _read_rows(tbl) == want
    assert _full_window(tbl, monkeypatch) == want


def _scan_under_coalesce(df) -> str:
    """The ``FileScan`` line of ``df``'s executed plan, which must sit
    under a ``Coalesce 1``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    (i,) = [k for k, line in enumerate(lines) if "FileScan" in line]
    assert any("Coalesce 1" in line for line in lines[:i]), plan
    return lines[i]


def _partition_filters(scan_line: str) -> str:
    return re.search(r"PartitionFilters: \[(.*?)\], PushedFilters", scan_line).group(1)


@pytest.mark.parametrize("mode", ["APPEND", "OVERWRITE"])
def test_time_bounded_read_keeps_segment_pruning(engine, monkeypatch, mode):
    tbl = _create(engine, "tb", mode)
    batch = [r for s in range(3) for r in _grid(T0 + s * 2 * H, 5, usage=10.0 * s)]
    engine.insert_rows(
        "tb", ["host", "usage", "ts"], [{"host": h, "usage": u, "ts": t} for h, u, t in batch]
    )
    lo, hi = T0 + 2 * H, T0 + 4 * H
    df = tbl.read(lo_ms=lo, hi_ms=hi)
    assert "__segment" in _partition_filters(_scan_under_coalesce(df))
    want = sorted(r for r in batch if lo <= r[2] < hi)
    assert len(want) == 15
    assert _read_rows(tbl, lo_ms=lo, hi_ms=hi) == want
    assert _full_window(tbl, monkeypatch, lo_ms=lo, hi_ms=hi) == want


@pytest.mark.parametrize("mode", ["APPEND", "OVERWRITE"])
def test_key_partitioned_filter_keeps_partition_pruning(engine, monkeypatch, mode):
    tbl = _create(engine, "kp", mode, "PARTITION BY KEY(host) PARTITIONS 4")
    hosts = tuple(f"h{i}" for i in range(8))
    batches = [_grid(T0, 4, hosts=hosts), _grid(T0, 2, usage=30.0, hosts=hosts)]
    for b in batches:
        engine.insert_rows(
            "kp", ["host", "usage", "ts"], [{"host": h, "usage": u, "ts": t} for h, u, t in b]
        )
    df = tbl.read(filters={"host": "h3"})
    assert "__partition" in _partition_filters(_scan_under_coalesce(df))
    want = [r for r in _expected(mode, batches) if r[0] == "h3"]
    assert len(want) == (6 if mode == "APPEND" else 4)
    assert _read_rows(tbl, filters={"host": "h3"}) == want
    assert _full_window(tbl, monkeypatch, filters={"host": "h3"}) == want
