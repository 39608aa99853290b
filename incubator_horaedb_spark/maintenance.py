"""Catalog-wide maintenance sweep — the engine's background jobs.

The reference runs compaction on a scheduler
(src/analytic_engine/src/compaction/scheduler.rs:1-822: periodic picker →
rewrite) and enforces TTL per table.  The Spark rendering is a batch
maintenance job — run it from cron / an orchestrator (or a Structured
Streaming trigger loop): sweep every table, rewrite small files per time
partition (compact) and drop expired segments (TTL).  At 100 TB each
table's sweep is independent and embarrassingly parallel across tables;
per-table work is bounded by partitions touched since the last sweep.
"""

from __future__ import annotations

import functools
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from incubator_horaedb_spark.table import Table


@dataclass
class MaintenanceReport:
    compacted_partitions: dict[str, int] = field(default_factory=dict)
    expired_segments: dict[str, int] = field(default_factory=dict)

    @property
    def total_compacted(self) -> int:
        return sum(self.compacted_partitions.values())

    @property
    def total_expired(self) -> int:
        return sum(self.expired_segments.values())


def run_maintenance(
    engine,
    *,
    tables: list[str] | None = None,
    now_ms: int | None = None,
    compact: bool = True,
    expire: bool = True,
) -> MaintenanceReport:
    """One sweep over ``tables`` (default: the whole catalog).  Tables are
    swept side by side in ``_pool``, as the reference's compaction scheduler
    runs several tables' tasks at once (scheduler.rs max_ongoing_tasks):
    each table commits through its own file list, and a small table's
    rewrite is a one-task Spark job that leaves the other cores idle.  It
    returns, or raises the first failure in table order, once every
    table's sweep has ended."""
    names = tables if tables is not None else engine.catalog.list_tables()

    def sweep(name: str) -> tuple[int, int]:
        t = Table(engine.spark, engine.catalog, name)
        return (
            t.ttl_expire(now_ms=now_ms) if expire else 0,
            t.compact() if compact else 0,
        )

    pool = _pool(engine.spark.sparkContext.defaultParallelism)
    sweeps = [pool.submit(sweep, name) for name in names]
    wait(sweeps)
    report = MaintenanceReport()
    for name, done in zip(names, sweeps):
        expired, compacted = done.result()
        if expired:
            report.expired_segments[name] = expired
        if compacted:
            report.compacted_partitions[name] = compacted
    return report


@functools.cache
def _pool(workers: int) -> ThreadPoolExecutor:
    """The one pool, one worker per core, that every sweep in the process
    shares: callers that run sweeps of disjoint tables side by side add no
    concurrency past it."""
    return ThreadPoolExecutor(workers, thread_name_prefix="maintenance")


# --- continuous rollup (hypertable-downsample analogue) -------------------
#
# The prompt-level pattern (public: TimescaleDB continuous aggregates,
# Druid rollup): maintain a bucketed downsample of a raw table as PARTIAL
# aggregates, refreshed incrementally, merged at read.
#
# Partials make the refresh append-only and idempotent per batch: each
# refresh aggregates ONLY rows with __seq above the stored high-watermark
# (one pruned scan of the new batches), appends (bucket, tags, cnt, sum,
# min, max) rows, and advances the watermark.  Readers merge partials with
# a second-level aggregation — sums of sums — so a bucket split across N
# refreshes is exact.  avg is derived (sum/cnt), never stored.
#
# At 100 TB: refresh cost ∝ new data, not table size; the rollup table is
# itself a normal time-partitioned table (compaction/TTL apply); reads of
# coarse dashboards touch the rollup only.


def rollup_refresh(
    engine,
    src: str,
    bucket_ms: int,
    value_col: str,
    dst: str | None = None,
) -> int:
    """Incrementally refresh the rollup of ``src``; returns partial rows
    appended.  Creates the rollup table on first call."""
    from pyspark.sql import functions as F

    from incubator_horaedb_spark.catalog import TableOptions
    from incubator_horaedb_spark.schema import SEQ_COLUMN, ColumnSchema, TableSchema

    dst = dst or f"{src}_rollup_{bucket_ms}"
    meta = engine.catalog.get(src)
    tags = meta.schema.tag_columns
    ts_col = meta.schema.timestamp_column

    if not engine.catalog.exists(dst):
        cols = (
            [ColumnSchema(name="bucket_ts", kind="timestamp", is_tag=False)]
            + [ColumnSchema(name=t, kind="string", is_tag=True) for t in tags]
            + [
                ColumnSchema(name="cnt", kind="int64", is_tag=False),
                ColumnSchema(name="sum_v", kind="double", is_tag=False),
                ColumnSchema(name="min_v", kind="double", is_tag=False),
                ColumnSchema(name="max_v", kind="double", is_tag=False),
            ]
        )
        schema = TableSchema(columns=cols, timestamp_column="bucket_ts")
        opts = TableOptions(update_mode="APPEND", enable_ttl=False)
        opts.extra["rollup_src"] = src
        opts.extra["rollup_seq"] = 0
        engine.catalog.create_table(dst, schema, opts)

    dmeta = engine.catalog.get(dst)
    watermark = int(dmeta.options.extra.get("rollup_seq", 0))

    # Snapshot the high bound BEFORE building the (lazy) scan: the count
    # and the write each re-execute the read, so a batch ingested between
    # them and an after-the-fact `next_seq - 1` watermark would be
    # permanently skipped (lost-update window, ADVICE r02).  Bounding the
    # filter to (watermark, hi] and advancing exactly to hi makes the
    # refresh immune to concurrent ingest.
    hi = engine.catalog.get(src).next_seq - 1

    raw = Table(engine.spark, engine.catalog, src).read(with_internal=True)
    new = raw.filter((F.col(SEQ_COLUMN) > watermark) & (F.col(SEQ_COLUMN) <= hi))
    part = (
        new.groupBy(
            F.timestamp_millis(
                (F.unix_millis(F.col(ts_col)) / bucket_ms).cast("long") * bucket_ms
            ).alias("bucket_ts"),
            *[F.col(t) for t in tags],
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_col).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
    )
    n = part.count()
    if n:
        # bucket_ts stays TIMESTAMP — Table.write's schema-align cast is a
        # no-op for it (a LONG would be misread as epoch-seconds by cast)
        Table(engine.spark, engine.catalog, dst).write(part)
    # advance the watermark exactly to the snapshotted bound
    engine.catalog.update(dst, lambda m: m.options.extra.update(rollup_seq=hi))
    return n


def rollup_read(engine, dst: str):
    """Merged view of a rollup table: second-level aggregation over the
    partials (sum-of-sums), with derived avg."""
    from pyspark.sql import functions as F

    meta = engine.catalog.get(dst)
    tags = [c.name for c in meta.schema.columns if c.is_tag]
    df = Table(engine.spark, engine.catalog, dst).read()
    return (
        df.groupBy("bucket_ts", *tags)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("cnt"))
    )
