"""The one offline timing harness: runs bank queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{...}, "sf": ...}.

Usage::

    [SPARK_GRAFT_SF_DIR=dir[,dir...]] python bench.py [query ...]

Query names default to the headline set below, which spans the engine
surface: scan+agg, join, top-k, window dedup, time bucketing, PromQL
alignment, LSH dedup, ANN — the operators whose scaling behavior matters
at 100 TB.  Each query is executed with a count/collect to force full
evaluation.

Every timed run also records, per query, the split of its wall into
``build_ms`` (constructing the DataFrame: py4j round-trips, metadata
probes, fixture jobs) and ``exec_ms`` (its count()), the totals of the
Spark stages it completed (executor run/CPU/GC time, input, shuffle read
and write, memory and disk spill, tasks — read from the UI REST API), and
an optimized-plan digest with expression and exchange ids stripped, so a
refactor's plan identity is one comparison of two records.

Scale mode: with several comma-separated directories, the first tier is
the top-level record and each further tier runs in the same JVM and is
reported under ``tiers`` with its per-query ``ratio`` to the first
(BENCH_SCALE.md is read off such a record; tools/gen_scale_data.py makes
the sf1 tier).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "join_inner_3way",
    "topk_order_limit",
    "window_rownum_top2",
    "dedup_latest_by_key",
    "time_bucket_minute",
    "downsample_stddev",
    "promql_rate",
    "promql_instant",
    # the documents → token-hash → shingle stage is computed ONCE and
    # shared by every dedup family (llm_ops._staged_shingles) — the
    # curation norm at scale is shingle once, dedup many ways.  It is
    # timed as its own entry; the dedup queries below measure their
    # INCREMENTAL cost over the warm stage (the stage views are the only
    # caches kept across their runs).
    "stage_shingles",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_bruteforce",
    "ann_topk_blocked",
    "text_fingerprint",
    # r8 (VERDICT r07 #7): tag-equality + time-range read over the
    # key-partitioned + segmented table layout — partition/segment
    # directory pruning is the plan property that matters at 100 TB
    # (fixture table built once in the warm-up run, excluded from timing)
    "partitioned_scan_prune",
    # r10: the multi-resolution GROUPING SETS ladder (Expand ×3 through
    # ONE hash agg — the continuous-aggregate maintenance shape) and the
    # persisted-index incremental dedup (index parquet write + delta band
    # join; consumes the shared shingle stage like the other dedups)
    "ts_rollup_ladder",
    "dedup_incremental_lsh",
    # r11: the mergeable-sketch rollup (day level re-aggregates KB HLL
    # blobs — the 100 TB NDV-ladder shape) joins the headline set so all
    # round-10/11 features carry per-round bench rows
    "hll_rollup_merge",
]

# queries that consume the shared shingle stage: between runs, drop every
# cache EXCEPT the stage views so the timing isolates incremental work
SHINGLE_CONSUMERS = {"dedup_minhash_lsh", "dedup_simhash", "dedup_incremental_lsh"}
SHINGLE_VIEWS = ("__shingle_tokh", "__shingle_hs")

# Per query: discard warm-up runs, then report the MEDIAN of 5 timed runs
# as the headline plus MIN and SPREAD (max-min) as dispersion (VERDICT r02
# #8: single-shot numbers moved ±10% with no code change; VERDICT r04 #5: a
# round-over-round delta is only interpretable next to the run-to-run
# variance band — the bursty-CPU VM makes adjacent medians disagree by
# >10% with zero code change).  The warm-up discard keeps per-query
# codegen/C2 compilation out of the numbers — the staged LSH queries
# evaluate interpreted hash-fold expressions whose evaluators only reach
# C2-compiled steady state around run 3-4 (measured 8.6 → 2.0 → 1.8 →
# 1.5s at sf0.1), so they discard 3.  Cached temp views are cleared
# between runs so every run re-does the work.
WARMUPS = {
    "stage_shingles": 3,
    "dedup_minhash_lsh": 3,
    "dedup_simhash": 3,
    "dedup_incremental_lsh": 3,
}
TIMED_RUNS = 5

# count() lets the optimizer prune whole subtrees (guide §1.4) — for
# hll_rollup_merge it prunes the sketch aggregation entirely, so its timed
# row measures the NDV/join skeleton, not the sketch build.  These are also
# timed materialized through the noop sink, as the separate queries_noop
# column; "queries"/"value" keep the count() methodology.
NOOP_QUERIES = ("hll_rollup_merge",)

# (record field, REST StageData field, scale), summed over the stages a
# timed run completed; each is reported as "queries_<field>" (median)
STAGE_FIELDS = (
    ("run_ms", "executorRunTime", 1),
    ("cpu_ms", "executorCpuTime", 1e-6),  # REST reports nanoseconds
    ("gc_ms", "jvmGcTime", 1),
    ("input_mb", "inputBytes", 2**-20),
    ("shuffle_read_mb", "shuffleReadBytes", 2**-20),
    ("shuffle_write_mb", "shuffleWriteBytes", 2**-20),
    ("memory_spill_mb", "memoryBytesSpilled", 2**-20),
    ("disk_spill_mb", "diskBytesSpilled", 2**-20),
    ("tasks", "numCompleteTasks", 1),
)


def _py_spin_sec() -> float:
    """Fixed pure-CPU calibration workload (VERDICT r07 next-round #2):
    a constant xorshift loop whose wall time moves ONLY with effective
    CPU speed.  Recorded before and after the bench so a throttled VM
    shows up as data instead of narrative — if the spin time is inflated
    relative to its historical ~baseline, query regressions co-moving
    with it are environmental."""
    x, t0 = 0x9E3779B97F4A7C15, time.time()
    for _ in range(8_000_000):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    if x == 0:  # unreachable; keeps the loop un-eliminable
        print(x, file=sys.stderr)
    return round(time.time() - t0, 3)


def _jvm_spin_sec(spark) -> float:
    """JVM-side calibration: a fixed codegen aggregation over range() —
    no I/O, no shuffle; tracks executor-thread CPU speed."""
    t0 = time.time()
    spark.range(0, 200_000_000, 1, 8).selectExpr(
        "sum(id % 1000003) as s"
    ).collect()
    return round(time.time() - t0, 3)


def _spin_chunk(_seed) -> int:
    # module-level so multiprocessing can pickle it by reference
    x = 0x9E3779B97F4A7C15
    for _ in range(4_000_000):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    return x


def _py_spin_multicore_sec(ncores: int) -> float:
    """ALL-CORES Python calibration (r9, VERDICT r08 #2): one xorshift
    chunk per core, run simultaneously in forked workers.  The r8 rounds
    showed a +20% uniform inflation on 32-core Spark runs while the
    SINGLE-thread spin sat at its idle floor — multi-core turbo licensing
    / steal throttles all-cores workloads without touching a 1-thread
    probe.  Wall time here is the slowest worker; compare against the
    1-thread spin: mc/1t >> 1 under all-cores load means the VM cannot
    currently sustain its single-core speed across cores."""
    import multiprocessing as mp

    t0 = time.time()
    with mp.get_context("fork").Pool(ncores) as pool:
        pool.map(_spin_chunk, range(ncores))
    return round(time.time() - t0, 3)


def _jvm_spin_parallel_sec(spark) -> float:
    """ALL-CORES JVM calibration: the same codegen sum with one partition
    per executor thread and a fixed 250M-row slice each — the workload a
    throttled multi-core JVM cannot hide from."""
    par = spark.sparkContext.defaultParallelism
    t0 = time.time()
    spark.range(0, 250_000_000 * par, 1, par).selectExpr(
        "sum(id % 1000003) as s"
    ).collect()
    return round(time.time() - t0, 3)


def _driver_roundtrip_sec(spark) -> float:
    """DRIVER-SIDE calibration (r9): 20 iterations of the smallest possible
    plan→schedule→collect cycle.  Stage-level profiling (PROFILE.md) showed
    executor task time is a small, stable fraction of wall for every
    sub-second headline query — wall is dominated by driver-side work
    (Catalyst planning, AQE orchestration, py4j round-trips), which the
    pure-CPU spin probes cannot see.  When unchanged-plan medians inflate
    while the spins sit at floor, THIS probe is the one expected to move
    with them."""
    t0 = time.time()
    for _ in range(20):
        spark.range(1).count()
    return round(time.time() - t0, 3)


def _completed_stages(spark, calib: dict) -> dict[tuple[int, int], dict] | None:
    """(stageId, attemptId) → REST StageData of every completed stage, via
    the UI REST API.  None when the API is unreadable (the UI is off, say):
    the failure is counted in ``calib["stage_poll_failures"]`` and the first
    one kept in ``calib["stage_poll_error"]``, so a null stage field in the
    record comes with its reason."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=30
        ) as r:
            stages = json.loads(r.read())
        return {(st["stageId"], st["attemptId"]): st for st in stages}
    except (OSError, ValueError, KeyError) as e:  # the UI is off or unreachable
        calib["stage_poll_failures"] += 1
        calib["stage_poll_error"] = calib["stage_poll_error"] or f"{type(e).__name__}: {e}"
        return None


def _plan_digest(df) -> str:
    """Digest of ``df``'s optimized plan with the ``#<id>`` expression ids
    and the ``plan_id=<id>`` exchange ids of cached plans stripped: equal
    digests mean the same plan across runs and trees."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return hashlib.sha1(re.sub(r"#\d+|plan_id=\d+", "", plan).encode()).hexdigest()[:16]


def _cpu_mhz() -> float | None:
    try:
        with open("/proc/cpuinfo") as f:
            vals = [
                float(line.split(":")[1])
                for line in f
                if line.lower().startswith("cpu mhz")
            ]
        return round(sum(vals) / len(vals), 1) if vals else None
    except Exception:
        return None


def _clear_except_shingles(spark) -> None:
    # drop all caches except the shared stage (catalog-listed temp views
    # are the only cache sources in the headline queries)
    for t in spark.catalog.listTables():
        if t.name in SHINGLE_VIEWS:
            continue
        try:
            if spark.catalog.isCached(t.name):
                spark.catalog.uncacheTable(t.name)
        except Exception:
            pass


def time_query(spark, qs, name: str, sf_dir: str, calib: dict) -> tuple[int, list[dict], str]:
    """Run ``name`` WARMUPS + TIMED_RUNS times and return its row count, one
    dict per timed run — ``wall_s`` = ``build_ms`` + ``exec_ms`` (/1000) and
    ``stages``, the run's STAGE_FIELDS totals (None when a poll failed) —
    and its plan digest."""
    from incubator_horaedb_spark.querybank import llm_ops

    warm = WARMUPS.get(name, 1)
    runs: list[dict] = []
    for i in range(warm + TIMED_RUNS):
        timed = i >= warm
        if name == "stage_shingles":
            # time the cold stage build itself; the LAST build stays warm
            # for the consumers
            spark.catalog.clearCache()
            llm_ops._SHINGLE_STATE["sf_dir"] = None
        elif name in SHINGLE_CONSUMERS:
            _clear_except_shingles(spark)
        else:
            spark.catalog.clearCache()
        seen = _completed_stages(spark, calib) if timed else None
        t0 = time.time()
        if name == "stage_shingles":
            hs = llm_ops._staged_shingles(spark, sf_dir)
            t1 = t2 = time.time()
        else:
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            n = df.count()
            t2 = time.time()
        if timed:
            time.sleep(0.2)  # let the UI store ingest stage events
            now = _completed_stages(spark, calib)
            stages = None
            if seen is not None and now is not None:
                new = [st for k, st in now.items() if k not in seen]
                stages = {f: sum(st.get(k, 0) for st in new) * s for f, k, s in STAGE_FIELDS}
            runs.append(
                {"wall_s": t2 - t0, "build_ms": (t1 - t0) * 1e3, "exec_ms": (t2 - t1) * 1e3,
                 "stages": stages}
            )
        if name == "stage_shingles":
            df = spark.table(hs)
            n = df.count()  # cache read, outside timing
    return n, runs, _plan_digest(df)


def bench_tier(spark, sf_dir: str, names: list[str], calib: dict) -> dict:
    """The record of ``names`` at ``sf_dir``: every per-query field, their
    totals, and ``sf``."""
    from incubator_horaedb_spark import querybank

    qs = querybank.queries()
    med = statistics.median
    rec: dict = {
        k: {}
        for k in ("queries", "queries_min", "queries_spread", "queries_build_ms",
                  "queries_exec_ms", "queries_cpu_runs", "queries_plan_digest",
                  *(f"queries_{f}" for f, _, _ in STAGE_FIELDS))
    }
    for name in names:
        n, runs, rec["queries_plan_digest"][name] = time_query(spark, qs, name, sf_dir, calib)
        walls = [r["wall_s"] for r in runs]
        rec["queries"][name] = round(med(walls), 3)
        rec["queries_min"][name] = round(min(walls), 3)
        rec["queries_spread"][name] = round(max(walls) - min(walls), 3)
        rec["queries_build_ms"][name] = round(med(r["build_ms"] for r in runs), 1)
        rec["queries_exec_ms"][name] = round(med(r["exec_ms"] for r in runs), 1)
        polled = [r["stages"] for r in runs if r["stages"] is not None]
        for f, _, _ in STAGE_FIELDS:
            v = med(s[f] for s in polled) if polled else None
            rec[f"queries_{f}"][name] = None if v is None else round(v, 1 if f.endswith("ms") else 3)
        # every timed run's CPU, so a cross-round reader can see whether
        # two medians differ beyond the per-run dispersion
        rec["queries_cpu_runs"][name] = [round(s["cpu_ms"], 1) for s in polled]
        print(
            f"# {sf_dir} {name}: {n} rows median {rec['queries'][name]}s "
            f"min {rec['queries_min'][name]}s spread {rec['queries_spread'][name]}s "
            f"build {rec['queries_build_ms'][name]}ms cpu {rec['queries_cpu_ms'][name]}ms "
            f"(n={len(runs)})",
            file=sys.stderr,
        )

    noop: dict[str, float] = {}
    for name in (q for q in NOOP_QUERIES if q in names):
        runs = []
        for i in range(1 + TIMED_RUNS):
            spark.catalog.clearCache()
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            if i >= 1:
                runs.append(time.time() - t0)
        noop[name] = round(med(runs), 3)
        print(f"# noop {name}: median {noop[name]}s", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "value": round(sum(rec["queries"].values()), 3),
        # min-of-5 total: far more robust to the VM's bursty-CPU throttle
        # than the median (VERDICT r07 #2) — compare this across rounds
        # when the spin calibration moved
        "value_min": round(sum(rec["queries_min"].values()), 3),
        **rec,
        # noop-sink medians for queries whose count() action prunes real
        # work (guide §1.4); NOT part of "value"/"queries"
        "queries_noop": noop,
        "runs_per_query": TIMED_RUNS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def run(spark, sf_dirs: list[str], names: list[str]) -> dict:
    """Calibrate, time ``names`` at every tier in ``sf_dirs``, calibrate
    again; the first tier is the top-level record, the others go under
    ``tiers`` with their per-query ratio to it."""
    ncores = min(32, os.cpu_count() or 1)
    calib = {"cpu_mhz_before": _cpu_mhz(), "mc_cores": ncores,
             "stage_poll_failures": 0, "stage_poll_error": None}
    calib["py_spin_sec_before"] = _py_spin_sec()
    calib["py_spin_mc_sec_before"] = _py_spin_multicore_sec(ncores)
    _jvm_spin_sec(spark)  # discard: first run pays codegen compilation
    calib["jvm_spin_sec_before"] = _jvm_spin_sec(spark)
    _jvm_spin_parallel_sec(spark)  # discard: codegen for the parallel shape
    calib["jvm_spin_par_sec_before"] = _jvm_spin_parallel_sec(spark)
    _driver_roundtrip_sec(spark)  # discard: first cycle pays codegen/JIT
    calib["driver_rt_sec_before"] = _driver_roundtrip_sec(spark)

    # Warm the JVM, whole-stage-codegen compiler, and vectorized parquet
    # reader before timing — steady-state engine throughput is the metric,
    # not JVM boot.  The warmup query touches scan → filter → hash-agg
    # paths on a small slice; every timed query still does its own full
    # scan and compute.
    spark.range(1).count()
    from incubator_horaedb_spark.querybank.registry import load as _load

    _load(spark, sf_dirs[0], "lineitem").limit(1000).groupBy("l_returnflag").count().count()

    first, *more = [bench_tier(spark, d, names, calib) for d in sf_dirs]

    calib["py_spin_sec_after"] = _py_spin_sec()
    calib["py_spin_mc_sec_after"] = _py_spin_multicore_sec(ncores)
    calib["jvm_spin_sec_after"] = _jvm_spin_sec(spark)
    calib["jvm_spin_par_sec_after"] = _jvm_spin_parallel_sec(spark)
    calib["driver_rt_sec_after"] = _driver_roundtrip_sec(spark)
    calib["cpu_mhz_after"] = _cpu_mhz()
    for tier in more:
        tier["ratio"] = {
            q: round(t / first["queries"][q], 2) if first["queries"][q] else None
            for q, t in tier["queries"].items()
        }
    return {
        "metric": "headline_queries_total",
        "unit": "sec",
        **first,
        # fixed-workload calibration bracketing the run: if these differ
        # from their cross-round baseline, the environment moved — read
        # query deltas against the spin ratio
        "calibration": calib,
        "tiers": more,
    }


def main() -> None:
    from incubator_horaedb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or BENCH_QUERIES
    # UI on: the per-query stage fields (queries_cpu_ms and the rest) read
    # the REST stage API.  CPU milliseconds are the stable per-query metric
    # the wall medians are read against (VERDICT r11 #6: shared-stage dedup
    # walls swing with run-order attribution on a bursty VM while their
    # executor CPU is steady).
    spark = get_spark("bench", ui=True)
    print(json.dumps(run(spark, sf_dir.split(","), names)))


if __name__ == "__main__":
    main()
