"""Partitioned-table pruned read as a gated + benched query (VERDICT r07
next-round #7).

Key-partition pruning (`partition/rule/key.rs` locate_partitions_for_read)
and segment pruning (`predicate.rs:180-197` TimeRange extraction) are
pytest-green individually, but no headline query exercised the combined
layout — the canonical TSDB shape the reference's own plan tests assert
(`integration_tests/cases/env/local/ddl/query-plan.sql:38-66`, the
"should not include SST" prune cases).

Fixture: the events table written once through ``Table.write`` into a
PARTITION BY KEY(event_type) x 8 layout with 1-day segments — the disk
layout is ``__partition=<hash>/__segment=<day>/...``, so an
event_type-equality + time-range query must list only the
(1 partition x 7 segment) directories it touches out of ~8x30.  The
query aggregates clicks over a 7-day window; the DuckDB oracle states
the same aggregate over the raw parquet.  `PLANS.md` carries the
executed plan's PartitionFilters line (tools/dump_plans.py), and
tests/test_new_ops_plans.py asserts both prune dimensions reach the
FileSourceScan.

At 100 TB this is THE load-bearing plan shape: a full scan of an events
table is ~TBs per query, while partition+segment listing makes the scan
proportional to the query's tag/time selectivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_horaedb_spark.functions.detfloat import dyadic_sql, r_out_sql
from incubator_horaedb_spark.querybank.registry import _ts_read_confs, load, register

# 7-day window inside the 30-day corpus: [2024-01-08, 2024-01-15) UTC
_LO_MS = 1_704_672_000_000
_HI_MS = 1_705_276_800_000
_SEG_MS = 86_400_000  # 1-day segments
_NPART = 8

_STATE: dict = {"sf_dir": None, "table": None, "store": None}


def _partitioned_events(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the key-partitioned + segmented events
    table and return the Table handle."""
    from incubator_horaedb_spark.catalog import TableOptions
    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.querybank.streaming_e2e import _new_store
    from incubator_horaedb_spark.streaming.ingest import ensure_table
    from incubator_horaedb_spark.table import Table

    if _STATE["sf_dir"] == sf_dir and _STATE["table"] is not None:
        tbl = _STATE["table"]
        if tbl.spark is spark:
            return tbl
    _ts_read_confs(spark)
    store = _new_store("sg_part_events_", _STATE)
    engine = Engine(spark, store)
    df = load(spark, sf_dir, "events")
    opts = TableOptions(
        update_mode="APPEND",
        enable_ttl=False,
        segment_duration_ms=_SEG_MS,
        partition_keys=["event_type"],
        num_partitions=_NPART,
    )
    ensure_table(engine, "ev_part", df, ts_col="ts", tag_cols=["event_type", "props"], options=opts)
    Table(spark, engine.catalog, "ev_part").write(df)
    tbl = Table(spark, engine.catalog, "ev_part")
    _STATE["sf_dir"] = sf_dir
    _STATE["table"] = tbl
    return tbl


_PART_PRUNE_SQL = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           {r_out_sql("sum(" + dyadic_sql("value", 20) + ")", 6)} AS sum_value,
           CAST(min(epoch_ms(ts)) AS BIGINT) AS first_ms,
           CAST(max(epoch_ms(ts)) AS BIGINT) AS last_ms
    FROM events
    WHERE event_type = 'click'
      AND epoch_ms(ts) >= {_LO_MS} AND epoch_ms(ts) < {_HI_MS}
    """


@register("partitioned_scan_prune", oracle=_PART_PRUNE_SQL)
def partitioned_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-equality + time-range aggregate over the key-partitioned
    layout: ``Table.read(filters=...)`` turns event_type='click' into a
    ``__partition IN (...)`` directory prune and [lo, hi) into a
    ``__segment BETWEEN`` prune, with the row-exact timestamp predicate
    trimming the edge days.  Counts and quantized sums must equal the
    raw-parquet oracle — pruning may never drop or duplicate rows."""
    tbl = _partitioned_events(spark, sf_dir)
    df = tbl.read(filters={"event_type": "click"}, lo_ms=_LO_MS, hi_ms=_HI_MS)
    q = 1 << 20
    qv = F.floor(F.col("value") * F.lit(float(q)) + F.lit(0.5)).cast("double") / F.lit(
        float(q)
    )
    return df.select(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            F.floor(F.sum(qv) * F.lit(1000000.0) + F.lit(0.5)).cast("double")
            / F.lit(1000000.0)
        ).alias("sum_value"),
        F.min(F.unix_millis("ts")).cast("long").alias("first_ms"),
        F.max(F.unix_millis("ts")).cast("long").alias("last_ms"),
    )
