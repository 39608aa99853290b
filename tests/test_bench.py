"""bench.py's per-query loop, run once on the smallest tier: the record keeps
every key its consumers compare across rounds, each timed run's wall splits
exactly into build and execute time, and a stage poll that cannot reach the
UI REST API (the test session runs with the UI off) is counted and reported
rather than silently read as zero."""

from __future__ import annotations

import re

import pytest

import bench

NAMES = ["q1_pricing_summary", "stage_shingles"]
RECORD_KEYS = (
    "metric", "value", "value_min", "unit", "queries", "queries_min", "queries_spread",
    "queries_cpu_ms", "queries_cpu_runs", "queries_noop", "runs_per_query", "calibration",
    "sf",
)


def test_bench_loop_records_every_key(spark, sf_dir, monkeypatch):
    # the calibration spins time fixed workloads; their values are not under test
    for spin in ("_py_spin_sec", "_jvm_spin_sec", "_jvm_spin_parallel_sec", "_driver_roundtrip_sec"):
        monkeypatch.setattr(bench, spin, lambda *_: 0.0)
    monkeypatch.setattr(bench, "_py_spin_multicore_sec", lambda _: 0.0)
    timed: dict[str, list[dict]] = {}
    time_query = bench.time_query

    def recording(spark, qs, name, sf_dir, calib):
        n, runs, digest = time_query(spark, qs, name, sf_dir, calib)
        timed[name] = runs
        return n, runs, digest

    monkeypatch.setattr(bench, "time_query", recording)
    rec = bench.run(spark, [sf_dir], NAMES)

    for key in RECORD_KEYS:
        assert key in rec, key
    assert set(rec["queries"]) == set(NAMES)
    assert rec["runs_per_query"] == bench.TIMED_RUNS
    assert rec["sf"] == float(sf_dir.rsplit("sf", 1)[-1])
    assert rec["value"] == pytest.approx(sum(rec["queries"].values()), abs=1e-3)
    assert rec["tiers"] == []
    assert rec["queries_noop"] == {}

    for name in NAMES:
        runs = timed[name]
        assert len(runs) == bench.TIMED_RUNS
        for r in runs:
            assert r["build_ms"] + r["exec_ms"] == pytest.approx(r["wall_s"] * 1e3)
            assert r["stages"] is None
        assert rec["queries_min"][name] == round(min(r["wall_s"] for r in runs), 3)
        assert rec["queries_build_ms"][name] >= 0 and rec["queries_exec_ms"][name] >= 0
        assert len(rec["queries_plan_digest"][name]) == 16
        for field, _, _ in bench.STAGE_FIELDS:
            assert rec[f"queries_{field}"][name] is None
        assert rec["queries_cpu_runs"][name] == []
    assert rec["queries_exec_ms"]["stage_shingles"] == 0.0  # the stage build is all build

    calib = rec["calibration"]
    assert calib["stage_poll_failures"] > 0
    assert calib["stage_poll_error"]


def test_plan_digest_ignores_expression_ids(spark):
    def q():
        return spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count()

    a, b = q(), q()
    assert a._jdf.queryExecution().optimizedPlan().toString() != (
        b._jdf.queryExecution().optimizedPlan().toString()
    )  # fresh expression ids
    assert bench._plan_digest(a) == bench._plan_digest(b)
    assert bench._plan_digest(a) != bench._plan_digest(spark.range(10).selectExpr("id % 4 AS k"))


def test_plan_digest_ignores_exchange_ids_of_cached_plans(spark):
    def q():
        spark.catalog.clearCache()
        agg = spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().cache()
        return agg.filter("count > 0")

    a = q()
    ids_a = re.findall(r"plan_id=\d+", a._jdf.queryExecution().optimizedPlan().toString())
    digest_a = bench._plan_digest(a)
    b = q()
    ids_b = re.findall(r"plan_id=\d+", b._jdf.queryExecution().optimizedPlan().toString())
    assert ids_a and ids_a != ids_b  # a fresh cache plans fresh exchanges
    assert bench._plan_digest(b) == digest_a
    spark.catalog.clearCache()
