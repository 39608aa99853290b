"""Plan-shape tests (the Spark analogue of optimizer.sql golden EXPLAIN
tests) + key-partition pruning + serving-layer tests."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from incubator_horaedb_spark.plans.inspect import (
    has_partial_and_final_agg,
    pushed_filters,
    read_schema_columns,
    uses_top_k,
)
from incubator_horaedb_spark.querybank.registry import load


def test_filter_and_projection_pushdown(spark, sf_dir):
    # provider.rs:313-345 pushdown analogue: predicates reach the scan and
    # the read schema is pruned to referenced columns
    df = (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_quantity")
    )
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf and "l_returnflag" in pf
    cols = read_schema_columns(df)
    assert "l_extendedprice" not in cols and "l_orderkey" in cols


def test_partial_final_agg(spark, sf_dir):
    # optimizer.result:31 — AggregateExec mode=Partial → FinalPartitioned
    df = load(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)))
    assert has_partial_and_final_agg(df)


def test_topk_plan(spark, sf_dir):
    df = load(spark, sf_dir, "orders").orderBy(F.col("o_totalprice").desc()).limit(5)
    assert uses_top_k(df)


def test_key_partition_write_prune(spark, tmp_path):
    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.partition import locate_partitions_for_read

    engine = Engine(spark, str(tmp_path / "store"))
    engine.execute_sql(
        "CREATE TABLE pt (k string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='APPEND') "
        "PARTITION BY KEY(k) PARTITIONS 4"
    )
    vals = ", ".join(f"('k{i}', {i}, {1000 + i})" for i in range(20))
    engine.execute_sql(f"INSERT INTO pt (k, v, t) VALUES {vals}")

    import os

    data = engine.catalog.data_dir("pt")
    part_dirs = [d for d in os.listdir(data) if d.startswith("__partition=")]
    assert len(part_dirs) > 1  # rows scattered over hash partitions

    tbl = engine.table("pt")
    out = tbl.read(filters={"k": "k3"})
    assert [r["v"] for r in out.collect()] == [3.0]
    out2 = tbl.read(filters={"k": ["k3", "k7"]})
    assert sorted(r["v"] for r in out2.collect()) == [3.0, 7.0]

    # pruning reaches the scan: candidate set is a strict subset
    parts = locate_partitions_for_read(spark, ["k"], 4, {"k": "k3"})
    assert parts is not None and len(parts) == 1
    # missing key → no pruning
    assert locate_partitions_for_read(spark, ["k"], 4, {}) is None
    # full read still sees everything
    assert tbl.read().count() == 20


def test_priority_and_dedup(spark):
    from incubator_horaedb_spark.serving import (
        PriorityExecutor,
        QueryDedup,
        decide_query_priority,
    )

    assert decide_query_priority(1000) == "HIGH"
    assert decide_query_priority(10**12) == "LOW"
    assert decide_query_priority(None) == "LOW"  # unbounded scan

    ex = PriorityExecutor(spark)
    out = ex.run(lambda: spark.range(10).count(), time_range_ms=1000)
    assert out == 10
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None

    dedup = QueryDedup()
    barrier = threading.Barrier(4)
    results = []

    def compute():
        import time as _t

        _t.sleep(0.2)
        return 42

    def worker():
        barrier.wait()
        results.append(dedup.run("SELECT 1", compute))

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results == [42, 42, 42, 42]
    assert dedup.executed == 1  # one execution shared by all


def test_subquery_in_broadcasts(spark, sf_dir):
    # IN-subquery against a dimension must plan as a broadcast semi join,
    # not a shuffled sort-merge join (100 TB: the dim side is tiny).
    from incubator_horaedb_spark.querybank.sql_extended import subquery_in

    plan = subquery_in(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_single_shuffle(spark, sf_dir):
    # A partitioned window function should shuffle exactly once on its
    # partition key before the final aggregation.
    import re

    from incubator_horaedb_spark.querybank.sql_extended import window_moving_avg

    plan = window_moving_avg(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_rownum_topk_map_side_limit(spark, sf_dir):
    # r9 (VERDICT r08 #6): the per-key top-2 must carry Spark's rank-limit
    # pushdown — a PARTIAL WindowGroupLimit BEFORE the exchange (map-side
    # top-2 per key) and the Final one after.  This is the 'partial
    # aggregation before the window' rewrite; with keys ~ data the
    # remaining per-key shuffle is the theoretical floor (BENCH_SCALE.md).
    from incubator_horaedb_spark.querybank.core_sql import window_rownum_top2

    plan = window_rownum_top2(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    partial = plan.find("Partial")
    exchange = plan.find("Exchange hashpartitioning")
    assert "WindowGroupLimit" in plan and partial != -1 and exchange != -1
    # plan prints top-down: the Partial limit node appears AFTER the
    # exchange line textually iff it executes BEFORE it
    assert partial > exchange


def test_time_range_scan_pushdown(spark, sf_dir):
    # predicate.rs:180-197 time-range extraction analogue: the ts bounds
    # must reach the parquet scan as PushedFilters, not a post-scan filter.
    from incubator_horaedb_spark.querybank.timeseries import time_range_scan

    df = time_range_scan(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "ts" in pf and ("GreaterThan" in pf or "LessThan" in pf or ">=" in pf)


def test_random_partition_scatter(spark):
    # partition/rule/random.rs: writes scatter, reads fan out to all
    from incubator_horaedb_spark.partition import (
        locate_partitions_for_read_random,
        random_partition_expr,
    )

    df = spark.range(1000).withColumn("__partition", random_partition_expr(8))
    parts = [r["__partition"] for r in df.select("__partition").distinct().collect()]
    assert set(parts) <= set(range(8)) and len(parts) >= 4
    assert locate_partitions_for_read_random(8) == list(range(8))


def test_primary_key_sampler(spark):
    # sampler.rs:278-360 PrimaryKeySampler: lowest-NDV key-capable columns
    # first, floats excluded, timestamp key appended last.
    from incubator_horaedb_spark.sampling import (
        sample_segment_duration_ms,
        suggest_primary_key,
    )
    from incubator_horaedb_spark.schema import ColumnSchema, TableSchema

    schema = TableSchema(
        columns=[
            ColumnSchema(name="region", kind="string", is_tag=True),  # NDV 2
            ColumnSchema(name="host", kind="string", is_tag=True),  # NDV 50
            ColumnSchema(name="v", kind="double"),  # float: ineligible
            ColumnSchema(name="t", kind="timestamp"),
        ],
        timestamp_column="t",
    )
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        (F.col("id") % 2).cast("string").alias("region"),
        (F.col("id") % 50).cast("string").alias("host"),
        F.rand(1).alias("v"),
        F.timestamp_millis(F.lit(1704067200000) + F.col("id") * 3_600_000).alias("t"),
    )
    assert suggest_primary_key(df, schema, max_suggest_num=2) == ["region", "host", "t"]
    # 199h span fits in ≤24 one-day segments → 1d on the ladder
    assert sample_segment_duration_ms(df, "t") == 86_400_000


def test_salted_agg_matches_direct(spark, sf_dir):
    # skew utility: two-phase salted aggregation must equal the direct
    # aggregation, and phase 1 must fan a hot key over multiple sub-keys.
    from pyspark.sql import functions as F

    from incubator_horaedb_spark.operators.salt import SALT_COL, salted_agg
    from incubator_horaedb_spark.querybank.registry import load

    ev = load(spark, sf_dir, "events")
    got = {
        r["event_type"]: r["ndv"]
        for r in salted_agg(
            ev.select("event_type", "user_id"),
            ["event_type"],
            partial_aggs=[F.collect_set("user_id").alias("vs")],
            combine_aggs=[
                F.size(F.array_distinct(F.flatten(F.collect_list("vs")))).alias("ndv")
            ],
            n_salts=8,
        ).collect()
    }
    want = {
        r["event_type"]: r["ndv"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("ndv"))
        .collect()
    }
    assert got == want
    # the hot key actually scatters
    n_subkeys = (
        ev.select("event_type", "user_id")
        .withColumn(SALT_COL, F.pmod(F.xxhash64("user_id"), F.lit(8)))
        .where(F.col("event_type") == "click")
        .select(SALT_COL)
        .distinct()
        .count()
    )
    assert n_subkeys > 1


def test_results_invariant_under_partitioning(spark, sf_dir):
    # integration_tests/dist_query/diff.py analogue: the same query must
    # produce identical results regardless of physical partitioning — here
    # shuffle-partition count, which changes aggregation grouping order and
    # merge topology.  Dyadic quantization (detfloat) is what makes the
    # float aggregates bit-stable; this test guards that property.
    from incubator_horaedb_spark.querybank import queries

    qs = queries()

    def run(name):
        rows = qs[name](spark, sf_dir).collect()
        cols = sorted(rows[0].asDict().keys()) if rows else []
        return sorted(tuple(repr(r[c]) for c in cols) for r in rows)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            spark.catalog.clearCache()
            results[n] = {q: run(q) for q in ("q1_pricing_summary", "promql_rate", "downsample_stddev")}
        assert results["3"] == results["32"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
