"""End-to-end streaming-ingest correctness (VERDICT r06 next-round #8).

Every other gated query reads static parquet; this one's fixture is
produced by the ENGINE'S OWN ingest path (streaming/ingest.py →
Table.write → dedup-on-read), so ingest correctness gets a CORRECTNESS
row instead of pytest-only coverage:

1. a checkpointed Structured Streaming query (availableNow) drains the
   events parquet into an Overwrite table — auto-created from the batch
   schema (strings → TAG, planner.rs:426 analogue), every batch stamped
   with a monotonic ``__seq`` (the SequenceNumber analogue);
2. a second availableNow stream re-ingests an UPDATED subset (clicks of
   every 10th user, value shifted +1000) with the same series identity
   (tags + timestamp unchanged) — a later ``__seq``.  The unique
   ``event_id`` rides in the tag set so the primary key (tsid, ts) is
   collision-free on the RAW data: without it, sf1 carries one duplicate
   (event_type, props, ts) pair whose dedup survivor the oracle cannot
   express (r7 code-review finding);
3. the read goes through the dedup view (ROW_NUMBER … __seq DESC = 1,
   merge.rs:126 need_dedup), so the updated rows must REPLACE the
   originals — row counts catch an append-instead-of-overwrite bug,
   value sums catch a wrong-survivor bug.

The DuckDB oracle states the expected overlay directly over the raw
events table: same row count as the source, CASE-shifted values for the
updated subset.  Scale shape: ingest is one foreachBatch append per
micro-batch (no driver-side rows), the dedup view is one window over
(pk)-partitioned data — the standard Overwrite read plan.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_horaedb_spark.functions.detfloat import dyadic_sql, r_out_sql
from incubator_horaedb_spark.querybank.registry import _ts_read_confs, register

# updated subset: clicks of every 10th user (deterministic, ~1/40 of rows)
_UPD_PRED = "event_type = 'click' AND (user_id % 10) = 0"
_SHIFT = 1000.0

_STATE: dict = {"sf_dir": None, "table": None, "store": None}

# every fixture store is freed at interpreter exit, and eagerly when a
# different sf_dir rebuilds it (ADVICE/VERDICT r07: repeated multi-tier
# sweeps used to leave three ingested table copies per run on disk)
_LIVE_STORES: set[str] = set()


def _new_store(prefix: str, state: dict) -> str:
    old = state.get("store")
    if old:
        _LIVE_STORES.discard(old)
        shutil.rmtree(old, ignore_errors=True)
    store = tempfile.mkdtemp(prefix=prefix)
    _LIVE_STORES.add(store)
    state["store"] = store
    return store


@atexit.register
def _cleanup_stores() -> None:
    for store in list(_LIVE_STORES):
        shutil.rmtree(store, ignore_errors=True)
    _LIVE_STORES.clear()


def _ingested_events(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the streaming-ingested Overwrite table and
    return the Table handle.  Re-used across the local sweep's queries;
    the driver's fresh process rebuilds it in a few seconds at sf0.01."""
    from incubator_horaedb_spark.catalog import TableOptions
    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.streaming.ingest import start_ingest
    from incubator_horaedb_spark.table import Table

    if _STATE["sf_dir"] == sf_dir and _STATE["table"] is not None:
        tbl = _STATE["table"]
        if tbl.spark is spark:
            return tbl
    _ts_read_confs(spark)
    store = _new_store("sg_stream_e2e_", _STATE)
    engine = Engine(spark, store)
    # the file stream source requires a DIRECTORY; expose the single
    # testdata file through a symlinked source dir (testdata is read-only)
    import os

    src_dir = f"{store}/src"
    os.makedirs(src_dir, exist_ok=True)
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    path = src_dir
    raw_schema = spark.read.parquet(path).schema

    def _conv(df: DataFrame) -> DataFrame:
        # same raw-encoding handling as registry.load: nanos-as-long
        # testdata converts to timestamp; micros testdata reads directly
        f = next(x for x in df.schema.fields if x.name == "ts")
        if f.dataType.typeName() in ("long", "bigint"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("`ts` div 1000")))
        return df

    opts = TableOptions(update_mode="OVERWRITE", enable_ttl=False)
    # pass 1: full drain of the source backlog
    q = start_ingest(
        engine,
        _conv(spark.readStream.schema(raw_schema).parquet(path)),
        "ev_stream",
        ts_col="ts",
        tag_cols=["event_type", "props", "event_id"],
        checkpoint_dir=f"{store}/ckpt1",
        options=opts,
    )
    q.awaitTermination()
    # snapshot token between passes: the sequence-snapshot gate reads the
    # table as of the LAST pass-1 batch — pass 2/3 writes must be invisible
    _STATE["seq_pass1"] = Table(spark, engine.catalog, "ev_stream").last_seq()
    # pass 2: the update overlay — same tags + timestamp, shifted value,
    # later __seq (a separate checkpoint; same table)
    upd = (
        _conv(spark.readStream.schema(raw_schema).parquet(path))
        .filter(F.expr(_UPD_PRED))
        .withColumn("value", F.col("value") + F.lit(_SHIFT))
    )
    q2 = start_ingest(
        engine,
        upd,
        "ev_stream",
        ts_col="ts",
        tag_cols=["event_type", "props", "event_id"],
        checkpoint_dir=f"{store}/ckpt2",
        options=opts,
    )
    q2.awaitTermination()
    # pass 3: schema EVOLUTION — re-ingest the 'view' rows carrying a NEW
    # column (quality = value·0.5); ensure_table auto-adds it
    # (execute_add_columns_plan analogue, write.rs:695) and the earlier
    # segments, written before the ALTER, read it back as NULL through
    # the explicit read schema (table._read_schema — no mergeSchema scan)
    evo = (
        _conv(spark.readStream.schema(raw_schema).parquet(path))
        .filter(F.col("event_type") == "view")
        .withColumn("quality", F.col("value") * F.lit(0.5))
    )
    q3 = start_ingest(
        engine,
        evo,
        "ev_stream",
        ts_col="ts",
        tag_cols=["event_type", "props", "event_id"],
        checkpoint_dir=f"{store}/ckpt3",
        options=opts,
    )
    q3.awaitTermination()
    tbl = Table(spark, engine.catalog, "ev_stream")
    _STATE["sf_dir"] = sf_dir
    _STATE["table"] = tbl
    return tbl


_STREAM_E2E_SQL = f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           {r_out_sql(
               "sum(" + dyadic_sql(
                   f"(CASE WHEN {_UPD_PRED} THEN value + {_SHIFT!r} ELSE value END)", 20
               ) + ")", 6)} AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


_STREAM_EVOLVE_SQL = f"""
    SELECT event_type,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
             AS n_quality,
           {r_out_sql(
               "sum(" + dyadic_sql(
                   "(CASE WHEN event_type = 'view' THEN value * 0.5 "
                   "ELSE 0.0 END)", 20
               ) + ")", 6)} AS sum_quality
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


@register("streaming_ingest_evolve_read", oracle=_STREAM_EVOLVE_SQL)
def streaming_ingest_evolve_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution leg of the streaming-ingest gate: the third ingest
    pass added a ``quality`` column (auto-evolve, write.rs:695 analogue)
    on the 'view' rows only.  Rows written BEFORE the evolution must read
    the column as NULL (explicit read schema over old segments), and the
    evolved rows must carry quality = value·0.5 — per-group non-NULL
    counts and quantized sums pin both."""
    tbl = _ingested_events(spark, sf_dir)
    df = tbl.read()
    q = 1 << 20
    qv = (
        F.floor(
            F.coalesce(F.col("quality"), F.lit(0.0)) * F.lit(float(q)) + F.lit(0.5)
        ).cast("double")
        / F.lit(float(q))
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("quality").cast("long").alias("n_quality"),
            (
                F.floor(F.sum(qv) * F.lit(1000000.0) + F.lit(0.5)).cast("double")
                / F.lit(1000000.0)
            ).alias("sum_quality"),
        )
        .orderBy("event_type")
    )


@register("streaming_ingest_dedup_read", oracle=_STREAM_E2E_SQL)
def streaming_ingest_dedup_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the dedup view of the streaming-ingested table (see
    module docstring).  Equal row counts prove replace-not-append; equal
    sums prove the newest-__seq survivor carries the updated value."""
    tbl = _ingested_events(spark, sf_dir)
    df = tbl.read()
    q = 1 << 20
    qv = F.floor(F.col("value") * F.lit(float(q)) + F.lit(0.5)).cast("double") / F.lit(
        float(q)
    )
    out = (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (
                F.floor(F.sum(qv) * F.lit(1000000.0) + F.lit(0.5)).cast("double")
                / F.lit(1000000.0)
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )
    return out


# --- sequence-snapshot read (instance/read.rs) -----------------------------
# A reader that pins the table at the pass-1 snapshot must see NONE of the
# pass-2 value updates or the pass-3 evolved rows: per-type counts equal
# the raw source and sums carry the UN-shifted values.  This is the
# reference's sequence-snapshot semantics (a read holds the sst+memtable
# view at a sequence) made a correctness row — the same contract the
# maintenance race gates assert under concurrency.

_SNAPSHOT_SQL = f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           {r_out_sql("sum(" + dyadic_sql("value", 20) + ")", 6)} AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


@register("snapshot_read_as_of", oracle=_SNAPSHOT_SQL)
def snapshot_read_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup view at ``as_of_seq`` = the last pass-1 sequence: the update
    overlay (pass 2) and the evolved rows (pass 3) are written but must be
    invisible, so the snapshot equals the raw source exactly."""
    tbl = _ingested_events(spark, sf_dir)
    df = tbl.read(as_of_seq=_STATE["seq_pass1"])
    q = 1 << 20
    qv = F.floor(F.col("value") * F.lit(float(q)) + F.lit(0.5)).cast("double") / F.lit(
        float(q)
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (
                F.floor(F.sum(qv) * F.lit(1000000.0) + F.lit(0.5)).cast("double")
                / F.lit(1000000.0)
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# --- TTL + Append (chain read) leg ----------------------------------------
# table_options.rs:60 (ttl default 7d) / row_iter/chain.rs (Append reads
# concatenate without merge).  TTL enforcement previously had pytest-only
# coverage; this gives it a CORRECTNESS row with a pinned `now`.

_TTL_NOW_MS = 1_705_708_800_000  # 2024-01-20T00:00:00Z (inside the corpus)
_TTL_MS = 15 * 86_400_000  # 15d → cutoff 2024-01-05T00:00:00Z

_TTL_STATE: dict = {"sf_dir": None, "table": None}


def _ingested_ttl_clicks(spark: SparkSession, sf_dir: str):
    """One availableNow pass of the 'click' rows into an APPEND table with
    TTL enabled — the chain-read + TTL leg of the ingest gate."""
    from incubator_horaedb_spark.catalog import TableOptions
    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.streaming.ingest import start_ingest
    from incubator_horaedb_spark.table import Table

    if _TTL_STATE["sf_dir"] == sf_dir and _TTL_STATE["table"] is not None:
        tbl = _TTL_STATE["table"]
        if tbl.spark is spark:
            return tbl
    import os

    _ts_read_confs(spark)
    store = _new_store("sg_stream_ttl_", _TTL_STATE)
    engine = Engine(spark, store)
    src_dir = f"{store}/src"
    os.makedirs(src_dir, exist_ok=True)
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    raw_schema = spark.read.parquet(src_dir).schema

    def _conv(df: DataFrame) -> DataFrame:
        f = next(x for x in df.schema.fields if x.name == "ts")
        if f.dataType.typeName() in ("long", "bigint"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("`ts` div 1000")))
        return df

    stream = _conv(spark.readStream.schema(raw_schema).parquet(src_dir)).filter(
        F.col("event_type") == "click"
    )
    q = start_ingest(
        engine,
        stream,
        "ev_ttl",
        ts_col="ts",
        tag_cols=["event_type", "props", "event_id"],
        checkpoint_dir=f"{store}/ckpt",
        options=TableOptions(
            update_mode="APPEND", enable_ttl=True, ttl_ms=_TTL_MS
        ),
    )
    q.awaitTermination()
    tbl = Table(spark, engine.catalog, "ev_ttl")
    _TTL_STATE["sf_dir"] = sf_dir
    _TTL_STATE["table"] = tbl
    return tbl


_STREAM_TTL_SQL = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_live,
           {r_out_sql("sum(" + dyadic_sql("value", 20) + ")", 6)} AS sum_value,
           CAST(min(epoch_ms(ts)) AS BIGINT) AS oldest_ms
    FROM events
    WHERE event_type = 'click'
      AND epoch_ms(ts) >= {_TTL_NOW_MS - _TTL_MS}
    """


@register("streaming_ingest_ttl_read", oracle=_STREAM_TTL_SQL)
def streaming_ingest_ttl_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the TTL-enabled Append table at a pinned `now`: rows older
    than now − ttl are filtered (and their whole segments pruned) at
    read, per table_options.rs:60; the Append (chain) read concatenates
    without dedup, so counts equal the raw source within the window.
    The surviving minimum timestamp pins the cutoff boundary."""
    tbl = _ingested_ttl_clicks(spark, sf_dir)
    df = tbl.read(now_ms=_TTL_NOW_MS)
    q = 1 << 20
    qv = F.floor(F.col("value") * F.lit(float(q)) + F.lit(0.5)).cast("double") / F.lit(
        float(q)
    )
    return df.select(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        (
            F.floor(F.sum(qv) * F.lit(1000000.0) + F.lit(0.5)).cast("double")
            / F.lit(1000000.0)
        ).alias("sum_value"),
        F.min(F.unix_millis("ts")).cast("long").alias("oldest_ms"),
    )


# --- sequence snapshot ACROSS the compaction boundary ----------------------
# VERDICT r10 next-round #5: `as_of_seq` documents that compaction
# reclaims superseded versions (table.py Table.read docstring — an LSM
# compaction GCs versions below the watermark; instance/read.rs +
# row_iter/merge.rs:126 is the reference's sequence-snapshot-under-merge
# contract).  This gate PROVES that retention semantics instead of only
# unit-testing it: pass 1 writes the 'error' rows, the snapshot token is
# taken, pass 2 overlays updated values for the even-user half, then the
# table is COMPACTED.  Compaction keeps only each key's newest version
# (original __seq preserved), so a post-compaction snapshot read at the
# pass-1 token sees exactly the keys whose pass-1 version SURVIVED —
# the odd-user half — while the current read still equals the full
# post-update state (the dedup invariant the maintenance race gates
# assert under concurrency).

_SNAPC_PRED = "event_type = 'error'"
_SNAPC_SHIFT = 10.0  # exact dyadic: quantize(v + 10) == quantize(v) + 10
_SNAPC_STATE: dict = {"sf_dir": None, "table": None, "store": None, "snap1": None}


def _compacted_snapshot_table(spark: SparkSession, sf_dir: str):
    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.querybank.registry import load
    from incubator_horaedb_spark.table import Table

    if _SNAPC_STATE["sf_dir"] == sf_dir and _SNAPC_STATE["table"] is not None:
        tbl = _SNAPC_STATE["table"]
        if tbl.spark is spark:
            return tbl
    _ts_read_confs(spark)
    store = _new_store("sg_snap_compact_", _SNAPC_STATE)
    engine = Engine(spark, store)
    engine.execute_sql(
        "CREATE TABLE ev_snapc (event_id string TAG, event_type string TAG, "
        "props string TAG, value double, user_id bigint, ts timestamp NOT NULL, "
        "timestamp KEY(ts)) ENGINE=Analytic "
        "WITH(enable_ttl='false', update_mode='OVERWRITE')"
    )
    tbl = Table(spark, engine.catalog, "ev_snapc")
    src = load(spark, sf_dir, "events").filter(F.expr(_SNAPC_PRED)).select(
        "event_id", "event_type", "props", "value", "user_id", "ts"
    )
    tbl.write(src)  # pass 1: originals
    _SNAPC_STATE["snap1"] = tbl.last_seq()
    upd = src.filter("(user_id % 2) = 0").withColumn(
        "value", F.col("value") + F.lit(_SNAPC_SHIFT)
    )
    tbl.write(upd)  # pass 2: update overlay, later __seq
    tbl.compact()  # reclaim superseded pass-1 versions
    _SNAPC_STATE["sf_dir"] = sf_dir
    _SNAPC_STATE["table"] = tbl
    return tbl


_SNAPC_SQL = f"""
    WITH e AS (SELECT user_id, value FROM events WHERE {_SNAPC_PRED}),
    snap AS (
      SELECT CAST(count(*) AS BIGINT) AS snap_n_rows,
             {r_out_sql("sum(" + dyadic_sql("value", 20) + ")", 6)} AS snap_sum_value
      FROM e WHERE (user_id % 2) = 1
    ),
    cur AS (
      SELECT CAST(count(*) AS BIGINT) AS cur_n_rows,
             {r_out_sql(
                 "sum(" + dyadic_sql(
                     "value + (CASE WHEN (user_id % 2) = 0 THEN 10.0 ELSE 0.0 END)",
                     20,
                 ) + ")", 6)} AS cur_sum_value
      FROM e
    )
    SELECT snap_n_rows, snap_sum_value, cur_n_rows, cur_sum_value
    FROM snap CROSS JOIN cur
    """


@register("snapshot_compacted_read", oracle=_SNAPC_SQL)
def snapshot_compacted_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-across-compaction gate: after compact(), read(as_of_seq =
    pass-1 token) returns ONLY the odd-user keys (whose pass-1 version
    survived compaction — updated keys' old versions were reclaimed, so
    they vanish from the snapshot, the documented LSM retention
    semantics), while the current read equals the full post-update state.
    Both reads aggregate in one returned row; the oracle states both
    directly over the raw events table."""
    tbl = _compacted_snapshot_table(spark, sf_dir)
    q = 1 << 20

    def _agg(df, prefix):
        qv = F.floor(F.col("value") * F.lit(float(q)) + F.lit(0.5)).cast(
            "double"
        ) / F.lit(float(q))
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(f"{prefix}_n_rows"),
            (
                F.floor(F.sum(qv) * F.lit(1000000.0) + F.lit(0.5)).cast("double")
                / F.lit(1000000.0)
            ).alias(f"{prefix}_sum_value"),
        )

    snap = _agg(tbl.read(as_of_seq=_SNAPC_STATE["snap1"]), "snap")
    cur = _agg(tbl.read(), "cur")
    return snap.crossJoin(cur)
