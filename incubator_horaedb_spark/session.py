"""SparkSession factory tuned for the engine.

The reference runs 8-way partitioned scans with 8192-row batches
(src/table_engine/src/table.rs:170, table_options.rs:62).  On Spark the
equivalents are input-split sizing, AQE, and parquet pushdown — all set here
so every entry point (tests, bench, driver) gets the same plan behavior.

Scale notes (100 TB design): these settings are safe on a real cluster —
AQE re-plans shuffles at runtime (skew joins, partition coalescing),
parquet filter/pushdown keeps scans pruned, and shuffle partitions here are
only a local default (AQE coalesces; on a cluster you'd set
spark.sql.shuffle.partitions ~ 2-3x total cores).
"""

from __future__ import annotations

import gc
import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_local_dir() -> str | None:
    """Shuffle/scratch directory for local mode (guide §2.1: shuffle blocks
    live on local disk; machines are expected to have FAST local disks).

    Mid-stage thread dumps of the dedup-family shuffles (OPTIMIZATION_r12.md
    §9) showed 24-30 of 32 executor threads simultaneously RUNNABLE inside
    DiskBlockObjectWriter.open → FileOutputStream.open0 — shuffle temp-file
    creation on this sandbox's journaled root fs serializes under 32-way
    concurrency, owning most of those stages' task time.  Production nodes
    provision NVMe scratch for spark.local.dir where creates are
    microseconds; pointing local-mode scratch at tmpfs restores that
    intended behavior.  Deployment keeps control: SPARK_LOCAL_DIRS (Spark's
    own env, which overrides spark.local.dir anyway) or
    SPARK_GRAFT_LOCAL_DIR wins; the tmpfs default applies only when neither
    is set and /dev/shm is writable.  Shuffle volumes at bench/sweep scale
    are MBs against a 128 GiB tmpfs; a real 100 TB deployment must use
    disk-backed scratch — set SPARK_LOCAL_DIRS there."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None  # Spark's env wins regardless; don't fight it
    shm = "/dev/shm/spark-graft-local"
    try:
        os.makedirs(shm, exist_ok=True)
        if not os.access(shm, os.W_OK):
            return None
        # free-space gate (ADVICE r12): tmpfs scratch silently fails a
        # spill-heavy job with no-space errors; only take the default when
        # the tmpfs has real headroom (≥ 4 GiB free — bench/sweep shuffle
        # volumes are MBs).  A constrained host falls back to Spark's
        # default local dir; deployments set SPARK_LOCAL_DIRS regardless.
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize < 4 << 30:
            return None
        return shm
    except OSError:
        return None


def get_spark(
    app_name: str = "incubator-horaedb-spark",
    cpus: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """``ui=True`` enables the Spark UI so callers can read the REST stage
    metrics API (bench.py's per-query executor-CPU attribution); queries and
    tests keep it off — the UI store adds per-stage bookkeeping overhead."""
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Runtime re-planning: partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r12 optimization round): canChangeCachedPlanOutputPartitioning
        # =true was trialled here — it cut the dedup family 16-40% at sf0.1
        # by coalescing near-empty cached-scan tasks, but at the 10× sf1
        # tier it REGRESSED dedup_simhash ~1.8× (AQE coalesces the cached
        # interpreted-HOF stages' partitioning down to byte-size, starving
        # the compute-dense folds of parallelism).  A small-data-only win
        # that inverts with scale — rejected; see OPTIMIZATION_r12.md §6.
        # Scan pruning — the Spark analogue of the reference's SST row-group
        # pruning (sst/parquet/row_group_pruner.rs) and predicate pushdown
        # (table_engine/provider.rs:313-345).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # Small-fan-out shuffles use the sort-path writer (ONE data+index
        # file pair per map task) instead of the bypass writer (one file
        # PER REDUCE PARTITION per map task).  The engine's
        # compute-widened stages (widen_for_compute) deliberately run many
        # map tasks over few bytes, so bypass's M×R file creates dominate
        # those shuffles (thread-dump evidence in OPTIMIZATION_r12.md §9;
        # interleaved A/Bs: dedup family ×0.6-0.74 at sf0.1 AND ×0.4-0.62
        # at the 10× sf1 tier, rollup/join/q1 controls flat at both
        # tiers).  Scale-safe by construction: production-sized shuffles
        # have R > 200 where the bypass path is disabled regardless of
        # this threshold — the knob only affects deliberately-small
        # fan-outs, exactly the shape the measurement covered.
        # Env-overridable for deployments that want Spark's default back.
        .config(
            "spark.shuffle.sort.bypassMergeThreshold",
            os.environ.get("SPARK_GRAFT_BYPASS_MERGE_THRESHOLD", "2"),
        )
        # Arrow for the few pandas-UDF paths (multimodal / UDF framework).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # No Python call-site capture per Column/function call: with it on,
        # every F.* and Column method walks the Python stack and makes ~4
        # extra py4j round trips, so a 1,000-row request write spent 86 ms
        # of GIL-held Python CPU in Table.write (32 ms with it off, local[4]),
        # which the served readers then wait on.  Errors lose only the
        # "== DataFrame ==" call-site context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    local_dir = default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if ui:
        builder = builder.config("spark.ui.port", "4048")  # auto-increments
    spark = builder.getOrCreate()
    # What is alive once the session is up (modules, classes, functions)
    # lives as long as the process: move it out of the collector's
    # generations, so the full collection each Table.write runs walks only
    # objects made since.  Walking the ~80,000 objects alive after start-up
    # and twenty request writes took ~27 ms per collection (4-core machine).
    gc.collect()
    gc.freeze()
    return spark
