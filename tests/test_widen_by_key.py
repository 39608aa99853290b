"""widen_by_key (r13): the scale-gated keyed widening of deficient-split
scans for heavy map-side operators (window sorts, Expand+aggregate).

What must hold:

* GATE — fires only when the input is >= min_bytes AND the estimated
  natural split count falls short of the target; in particular the sf0.1
  driver-bench tables (< 8 MiB) are untouched by the default gate.
* MECHANISM — when it fires, the inserted exchange is HASH partitioning
  on the given keys (REPARTITION_BY_NUM), never round-robin (round-robin
  would pay a sortBeforeRepartition pass on the single-split inputs this
  helper targets).
* RESULT IDENTITY — the widened window/aggregate queries return exactly
  the rows of the unwidened form (unique sort keys / order-independent
  aggregates; this is the property every call site claims).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from incubator_horaedb_spark.querybank.registry import load
from incubator_horaedb_spark.scale import widen_by_key
from incubator_horaedb_spark.scale import widen_target as _widen_target


def test_gate_off_below_min_bytes(spark, sf_dir):
    # every sf0.001/sf0.01/sf0.1 table is < 8 MiB: the default gate must
    # keep the driver-bench plans byte-identical
    df = load(spark, sf_dir, "events")
    assert _widen_target(df, 1 << 20, min_bytes=8 << 20) == 0
    out = widen_by_key(df, "user_id", "event_type")
    assert "REPARTITION" not in out._jdf.queryExecution().executedPlan().toString()


def test_gate_fires_above_min_bytes_when_splits_deficient(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    # force the gate with a tiny min_bytes and a tiny per-task target:
    # the estimated natural splits of a KB-scale file are ~1-2, so a
    # 1 KiB/task target must widen
    want = _widen_target(df, 1 << 10, min_bytes=1)
    assert want > 1
    plan = (
        widen_by_key(df, "user_id", target_bytes=1 << 10, min_bytes=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # keyed hash partitioning, not round-robin
    assert "hashpartitioning(user_id" in plan
    assert "roundrobin" not in plan.lower()


def test_gate_no_op_when_natural_splits_suffice(spark, sf_dir):
    # a per-task target far above the file size wants 1 partition, which
    # never beats the natural splits -> no-op even with min_bytes=0
    df = load(spark, sf_dir, "events")
    assert _widen_target(df, 1 << 40, min_bytes=0) == 0


@pytest.mark.parametrize("keys", [("user_id", "event_type")])
def test_window_rows_identical_under_widening(spark, sf_dir, keys):
    # dedup_latest_by_key's shape: rn=1 over (ts DESC, event_id DESC) —
    # unique per group, so any partitioning gives identical survivors
    df = load(spark, sf_dir, "events")
    w = Window.partitionBy(*keys).orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def survivors(d):
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("event_id", "ts", "user_id", "event_type")
        )

    plain = sorted(map(tuple, survivors(df).collect()))
    widened = sorted(
        map(
            tuple,
            survivors(
                widen_by_key(df, *keys, target_bytes=1 << 10, min_bytes=1)
            ).collect(),
        )
    )
    assert plain == widened


def test_grouping_sets_identical_under_widening(spark, sf_dir):
    # ts_rollup_ladder's shape: counts + dyadic-quantized sums are
    # order-exact, so the widened ladder is bitwise identical
    from incubator_horaedb_spark.querybank.timeseries import _ROLLUP_LADDER_SQL

    df = load(spark, sf_dir, "events")
    df.createOrReplaceTempView("events")
    plain = sorted(map(tuple, spark.sql(_ROLLUP_LADDER_SQL).collect()))
    widen_by_key(
        df, "ts", "event_type", target_bytes=1 << 10, min_bytes=1
    ).createOrReplaceTempView("events")
    widened = sorted(map(tuple, spark.sql(_ROLLUP_LADDER_SQL).collect()))
    spark.catalog.dropTempView("events")
    assert plain == widened
