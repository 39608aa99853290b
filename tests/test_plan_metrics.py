"""Runtime prune counters (plans/metrics.py) — the EXPLAIN ANALYZE
analogue of query-plan.sql:38-66: assert from executed-plan SQLMetrics
that partition pruning actually skipped on-disk partitions.
"""

from __future__ import annotations

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.plans.metrics import render_analyze, scan_counters


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _mk_partitioned(engine):
    engine.execute_sql(
        "CREATE TABLE pt (k string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY(t)) PARTITION BY KEY (k) PARTITIONS 4 "
        "ENGINE=Analytic WITH (enable_ttl='false', update_mode='APPEND')"
    )
    for i, k in enumerate(["a", "b", "c", "d", "e", "f"]):
        engine.execute_sql(
            f"INSERT INTO pt (k, v, t) VALUES ('{k}', {i}, {1700000000000 + i})"
        )


def test_read_pruned_partition_counters(engine):
    _mk_partitioned(engine)
    table = engine.table("pt")

    full = scan_counters(table.read())
    pruned = scan_counters(table.read(filters={"k": "a"}))
    assert len(full) == 1 and len(pruned) == 1
    # 6 keys over 4 buckets: the full read touches every populated bucket,
    # the pruned read only key 'a''s bucket — fewer partitions AND files
    assert pruned[0]["partitions_read"] is not None
    assert pruned[0]["partitions_read"] < full[0]["partitions_read"]
    assert pruned[0]["files_read"] < full[0]["files_read"]
    assert pruned[0]["rows"] >= 1  # key 'a' rows were actually read


def test_segment_time_prune_counters(engine):
    # time-range scan prunes __segment partitions (predicate.rs TimeRange →
    # partition pruning; 'should not include SST' assertions in
    # query-plan.sql read the same way)
    from pyspark.sql import functions as F

    engine.execute_sql(
        "CREATE TABLE st (v double, t timestamp NOT NULL, timestamp KEY(t)) "
        "ENGINE=Analytic WITH (enable_ttl='false', segment_duration='2h')"
    )
    base = 1700000000000
    for i in range(3):  # three 2h segments
        engine.execute_sql(
            f"INSERT INTO st (v, t) VALUES ({i}, {base + i * 7_200_000})"
        )
    table = engine.table("st")
    full = scan_counters(table.read())
    one_seg = scan_counters(
        table.read().filter(F.unix_millis("t") < base + 3_600_000)
    )
    assert full[0]["partitions_read"] == 3
    assert one_seg[0]["partitions_read"] == 3  # filter on derived col: no prune...

    # ...which is exactly why Table.read derives __segment bounds from
    # the time bounds: same rows, but the scan prunes to one partition
    ranged = table.read(lo_ms=base, hi_ms=base + 3_600_000)
    assert [r["v"] for r in ranged.collect()] == [0.0]
    counters = scan_counters(ranged)
    assert counters[0]["partitions_read"] == 1
    assert counters[0]["files_read"] < full[0]["files_read"]


def test_read_time_range_overwrite_dedup_safe(engine):
    # below-window segment filtering is safe because ts is part of the pk:
    # both versions of a key share the timestamp, hence the segment
    engine.execute_sql(
        "CREATE TABLE ow (k string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY(t)) ENGINE=Analytic "
        "WITH (enable_ttl='false', update_mode='OVERWRITE', segment_duration='2h')"
    )
    base = 1700000000000
    engine.execute_sql(f"INSERT INTO ow (k, v, t) VALUES ('a', 1, {base})")
    engine.execute_sql(f"INSERT INTO ow (k, v, t) VALUES ('a', 2, {base})")  # overwrite
    engine.execute_sql(f"INSERT INTO ow (k, v, t) VALUES ('a', 9, {base + 7_200_000})")
    out = engine.table("ow").read(lo_ms=base, hi_ms=base + 3_600_000).collect()
    assert [(r["k"], r["v"]) for r in out] == [("a", 2.0)]


def test_explain_analyze_statement(engine):
    _mk_partitioned(engine)
    out = engine.execute_sql("explain analyze select k, v from pt where v > 1")
    lines = [r["plan"] for r in out.collect()]
    text = "\n".join(lines)
    assert "Scan" in text and "metrics=[" in text
    assert "numFiles=" in text and "numOutputRows=" in text
