"""Dedup correctness under a CONTINUOUS ingest trigger with a concurrent
reader (VERDICT r07 next-round #5; SURVEY §7.5 "dedup correctness under
concurrent micro-batches").

The availableNow gates (querybank/streaming_e2e.py) prove the drained
end-state; this proves the live invariants a reader holds while
micro-batches land.  ``Table.write`` appends files through Spark's
rename-based commit and never rewrites existing files, so a reader that
races a batch may see a PREFIX of that batch's files — but must never
see:

* a duplicate primary key in the dedup view (torn exposure of both the
  old and new version of a key),
* a key's version going BACKWARDS between two reads (visible files never
  vanish; row_number over __seq desc always picks the newest visible),
* a row that mixes versions (values are version-encoded; every read
  value must decode to exactly one written version),
* a previously-seen key disappearing.

Reference analogue: the memtable+SST snapshot read under concurrent
writes (src/analytic_engine/src/instance/read.rs) — there a sequence
snapshot pins visibility; here per-key atomicity + monotonicity is the
documented guarantee of the rename-commit file layout.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from incubator_horaedb_spark.catalog import TableOptions
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.streaming.ingest import start_ingest
from incubator_horaedb_spark.table import Table

N_KEYS = 60
N_VERSIONS = 4
BASE_MS = 1_700_000_000_000


def _version_df(spark, version: int):
    # same tags + timestamp for every version of a key → same primary key
    # in an OVERWRITE table; value encodes (version, key) so a torn or
    # mixed row is detectable from the value alone
    rows = [
        (str(k), float(version * 1000 + k), BASE_MS + k) for k in range(N_KEYS)
    ]
    return (
        spark.createDataFrame(rows, "k string, value double, ms long")
        .withColumn("ts", F.timestamp_millis(F.col("ms")))
        .drop("ms")
    )


def test_concurrent_reader_never_sees_torn_dedup_state(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    engine = Engine(spark, store)

    _version_df(spark, 1).coalesce(2).write.parquet(str(src / "v1.parquet"))
    schema = spark.read.parquet(str(src / "v1.parquet")).schema

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = start_ingest(
        engine,
        stream,
        "live_tbl",
        ts_col="ts",
        tag_cols=["k"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        options=TableOptions(update_mode="OVERWRITE", enable_ttl=False),
        trigger_available_now=False,  # continuous micro-batch trigger
    )
    tbl = Table(spark, engine.catalog, "live_tbl")

    last_version: dict[str, int] = {}
    reads = 0
    next_version = 2
    deadline = time.time() + 240
    try:
        while time.time() < deadline:
            if q.exception() is not None:
                raise AssertionError(f"ingest died: {q.exception()}")
            try:
                rows = tbl.read().select("k", "value").collect()
            except Exception:
                # table not created yet (first batch still landing)
                time.sleep(0.3)
                continue
            reads += 1
            seen: dict[str, int] = {}
            for r in rows:
                assert r.k not in seen, f"duplicate key {r.k} in dedup view"
                ver, key_part = divmod(int(r.value), 1000)
                assert str(key_part) == r.k and 1 <= ver <= N_VERSIONS, (
                    f"torn/mixed row: k={r.k} value={r.value}"
                )
                seen[r.k] = ver
            for k, prev in last_version.items():
                assert k in seen, f"key {k} disappeared between reads"
                assert seen[k] >= prev, (
                    f"key {k} regressed from version {prev} to {seen[k]}"
                )
            last_version = seen
            if len(seen) == N_KEYS and min(seen.values()) >= next_version - 1:
                if next_version > N_VERSIONS:
                    break  # all keys at the final version — done
                _version_df(spark, next_version).coalesce(2).write.parquet(
                    str(src / f"v{next_version}.parquet")
                )
                next_version += 1
    finally:
        q.stop()

    assert reads >= N_VERSIONS, f"only {reads} concurrent reads happened"
    final = {r.k: int(r.value) // 1000 for r in tbl.read().select("k", "value").collect()}
    assert final == {str(k): N_VERSIONS for k in range(N_KEYS)}


def test_streaming_e2e_stores_are_tracked_for_cleanup(spark, sf_dir):
    # the gated fixtures register their temp stores for atexit cleanup and
    # free the previous store when a new tier rebuilds (VERDICT r07 #5)
    import os

    from incubator_horaedb_spark.querybank import streaming_e2e as se

    se._ingested_ttl_clicks(spark, sf_dir)
    store1 = se._TTL_STATE["store"]
    assert store1 in se._LIVE_STORES and os.path.isdir(store1)
    # rebuilding for a "different" sf_dir frees the old store eagerly
    se._TTL_STATE["sf_dir"] = "/nonexistent-forces-rebuild"
    se._ingested_ttl_clicks(spark, sf_dir)
    store2 = se._TTL_STATE["store"]
    assert store2 != store1
    assert not os.path.exists(store1)
    assert store2 in se._LIVE_STORES


def test_concurrent_appends_to_one_table(spark, tmp_path):
    # several protocol writers appending to ONE table at once: every write
    # must be acknowledged, and exactly the acknowledged rows readable (two
    # Spark append jobs sharing the table's _temporary/0 staging dir used
    # to fail one write while some of its rows still landed)
    import threading

    from incubator_horaedb_spark.streaming.ingest import ingest_rows

    n_threads, n_writes, n_rows = 5, 5, 100  # more writers than local[4] cores
    engine = Engine(spark, str(tmp_path / "store"))
    opts = TableOptions(update_mode="APPEND", enable_ttl=False)

    def batch(writer: int, i: int) -> list[dict]:
        base = BASE_MS + (writer * 1000 + i) * n_rows
        return [{"ts": base + j, "host": f"h{j % 4}", "v": float(j)} for j in range(n_rows)]

    acked = [ingest_rows(engine, "same_tbl", batch(n_threads, 0), tag_cols=["host"], options=opts)]
    failed: list[BaseException] = []

    def writer(w: int) -> None:
        for i in range(n_writes):
            try:
                acked.append(
                    ingest_rows(engine, "same_tbl", batch(w, i), tag_cols=["host"], options=opts)
                )
            except Exception as e:  # noqa: BLE001 — counted and asserted below
                failed.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "writers did not finish"
    assert not failed, f"{len(failed)} concurrent writes failed: {failed[0]!r}"
    assert Table(spark, engine.catalog, "same_tbl").read().count() == sum(acked)
