"""Bounded-state KMV sketch build (r13, VERDICT r12 #1).

``kmv_sketch_df`` / ``kmv_sketch_ndv_df`` must be bitwise identical to the
single-aggregation ``kmv_partial`` (+ ``countDistinct``) form for EVERY
salt-bucket count m — including m values that exercise the hierarchical
merge (m > 64 → two merge levels) — and for the edge shapes the sweeps
cannot isolate: all-NULL groups, NULLs mixed into small groups, k-truncation
(NDV > k), and hash collisions being deduplicated at the k boundary.
The salt gate itself must be deterministic and scale monotonically.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from incubator_horaedb_spark.session import get_spark

    return get_spark("test-kmv-bounded", cpus=4)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _single_agg(df, group_cols, col, k, ndv=False):
    from incubator_horaedb_spark.functions.sketches import kmv_partial

    aggs = [kmv_partial(F.col(col), k).alias("sk")]
    if ndv:
        aggs.append(F.countDistinct(col).alias("ndv"))
    return df.groupBy(*group_cols).agg(*aggs)


@pytest.fixture(scope="module")
def data(spark):
    # 3 groups: g0 all-NULL, g1 small with NULLs, g2 large (NDV 500 > k=64)
    rows = [("g0", None)] * 5
    rows += [("g1", v) for v in (7, None, 7, 9)]
    rows += [("g2", v % 500) for v in range(2000)]
    return spark.createDataFrame(rows, "g string, u bigint")


@pytest.mark.parametrize("m", [2, 16, 129])
def test_sketch_identical_at_every_m(spark, data, m):
    from incubator_horaedb_spark.functions.sketches import kmv_sketch_df

    base = _rows(_single_agg(data, ["g"], "u", 64))
    got = _rows(kmv_sketch_df(data, ["g"], "u", k=64, m=m))
    assert got == base


@pytest.mark.parametrize("m", [2, 129])
def test_sketch_ndv_identical_and_groups_preserved(spark, data, m):
    from incubator_horaedb_spark.functions.sketches import kmv_sketch_ndv_df

    base = _rows(_single_agg(data, ["g"], "u", 64, ndv=True))
    got = _rows(
        kmv_sketch_ndv_df(data, ["g"], "u", k=64, m=m, out="sk", ndv_col="ndv")
    )
    assert got == base
    # the all-NULL group must survive the split+join with an empty sketch
    byg = {r[0]: r for r in got}
    assert list(byg["g0"][1]) == [] and byg["g0"][2] == 0


def test_m_zero_is_single_aggregation(spark, data):
    from incubator_horaedb_spark.functions.sketches import kmv_sketch_df

    plan = kmv_sketch_df(data, ["g"], "u", k=64, m=0)._jdf.queryExecution().toString()
    assert "collect_set" in plan and plan.count("Join") == 0


def test_salted_plan_shape(spark, data):
    """m>1: the salted build aggregates by (group, salt) first and never
    references the raw column in a per-group collect_set."""
    from incubator_horaedb_spark.functions.sketches import kmv_sketch_df

    df = kmv_sketch_df(data, ["g"], "u", k=64, m=16)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in plan and "pmod" in plan


def test_salt_gate_formula():
    from incubator_horaedb_spark.functions.sketches import KMV_SALT_MAX, kmv_salt_buckets
    from incubator_horaedb_spark.scale import GATE_BYTES as KMV_SALT_GATE_BYTES

    assert kmv_salt_buckets(0) == 0
    assert kmv_salt_buckets(KMV_SALT_GATE_BYTES - 1) == 0
    m1 = kmv_salt_buckets(16 << 20)
    assert m1 >= 16 and (m1 & (m1 - 1)) == 0  # power of two
    assert kmv_salt_buckets(1 << 50) == KMV_SALT_MAX
    # monotone in input size
    sizes = [8 << 20, 64 << 20, 1 << 30, 1 << 40]
    ms = [kmv_salt_buckets(s) for s in sizes]
    assert ms == sorted(ms)
