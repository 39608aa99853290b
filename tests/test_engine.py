"""Engine tests mirroring the reference's sqlness corpus semantics:
basic.sql round-trip, case sensitivity, insert_mode Append vs Overwrite,
ALTER, DESCRIBE/SHOW/EXISTS, TTL, compaction.
"""

from __future__ import annotations

import datetime

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def test_basic_roundtrip(engine):
    # cases/common/basic.sql:20-40
    engine.execute_sql("DROP TABLE IF EXISTS `demo`;")
    engine.execute_sql(
        "CREATE TABLE demo (name string TAG, value double NOT NULL, "
        "t timestamp NOT NULL, timestamp KEY (t)) ENGINE = Analytic "
        "WITH (enable_ttl = 'false')"
    )
    engine.execute_sql(
        "INSERT INTO demo (t, name, value) VALUES (1651737067000, 'horaedb', 100)"
    )
    out = engine.execute_sql("SELECT * FROM demo")
    assert _rows(out, "name", "value", "t") == [
        ("horaedb", 100.0, datetime.datetime(2022, 5, 5, 7, 51, 7))
    ]
    engine.execute_sql(
        'INSERT INTO demo (t, name, value) VALUES (1651737067001, "horaedb", 100)'
    )
    assert engine.execute_sql("SELECT * FROM demo").count() == 2


def test_case_sensitive_identifiers(engine):
    # basic.sql:43-54: backtick-quoted mixed case is preserved
    engine.execute_sql(
        "CREATE TABLE `DeMo` (`nAmE` string TAG, value double NOT NULL, "
        "t timestamp NOT NULL, timestamp KEY (t)) ENGINE = Analytic WITH (enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO `DeMo` (t, `nAmE`, value) VALUES (1, 'x', 2)")
    out = engine.execute_sql("SELECT `nAmE` FROM `DeMo`")
    assert out.columns == ["nAmE"]
    assert out.count() == 1


def test_insert_mode_overwrite(engine):
    # cases/common/dml/insert_mode.sql table1: same pk → newest write wins,
    # missing columns overwrite with NULL
    engine.execute_sql(
        "CREATE TABLE t1 (`timestamp` timestamp NOT NULL, `value` double, "
        "`dic` string dictionary, timestamp KEY (timestamp)) ENGINE=Analytic "
        "WITH(enable_ttl='false', update_mode='OVERWRITE')"
    )
    engine.execute_sql(
        'INSERT INTO t1 (`timestamp`, `value`, `dic`) VALUES (1, +10, "d1"), (2, 0, "d2"), (3, -30, "d1")'
    )
    engine.execute_sql("INSERT INTO t1 (`timestamp`, `value`) VALUES (1, 100), (2, 200), (3, 300)")
    out = engine.execute_sql("SELECT * FROM t1 ORDER BY `value` ASC")
    assert _rows(out, "value", "dic") == [(100.0, None), (200.0, None), (300.0, None)]


def test_insert_mode_append(engine):
    # insert_mode.sql table2: duplicates retained
    engine.execute_sql(
        "CREATE TABLE t2 (`timestamp` timestamp NOT NULL, `value` double, "
        "timestamp KEY (timestamp)) ENGINE=Analytic WITH(enable_ttl='false', update_mode='APPEND')"
    )
    engine.execute_sql("INSERT INTO t2 (`timestamp`, `value`) VALUES (1, 10), (2, 20)")
    engine.execute_sql("INSERT INTO t2 (`timestamp`, `value`) VALUES (1, 100), (2, 200)")
    out = engine.execute_sql("SELECT * FROM t2 ORDER BY `value`")
    assert [r["value"] for r in out.collect()] == [10.0, 20.0, 100.0, 200.0]


def test_overwrite_with_explicit_primary_key_and_tags(engine):
    engine.execute_sql(
        "CREATE TABLE m (host string TAG, region string TAG, v double, "
        "t timestamp NOT NULL, PRIMARY KEY(host, t), timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='OVERWRITE')"
    )
    engine.execute_sql(
        "INSERT INTO m (host, region, v, t) VALUES ('a', 'us', 1, 10), ('b', 'eu', 2, 10)"
    )
    engine.execute_sql("INSERT INTO m (host, region, v, t) VALUES ('a', 'us', 9, 10)")
    out = engine.execute_sql("SELECT host, v FROM m ORDER BY host")
    assert _rows(out, "host", "v") == [("a", 9.0), ("b", 2.0)]


def test_tsid_mode_dedup_by_tags(engine):
    # no explicit pk → pk = (tsid, ts); same tags + same ts overwrite
    engine.execute_sql(
        "CREATE TABLE ts1 (tag1 string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO ts1 (tag1, v, t) VALUES ('x', 1, 100), ('y', 2, 100)")
    engine.execute_sql("INSERT INTO ts1 (tag1, v, t) VALUES ('x', 5, 100)")
    out = engine.execute_sql("SELECT tag1, v FROM ts1 ORDER BY tag1")
    assert _rows(out, "tag1", "v") == [("x", 5.0), ("y", 2.0)]


def test_describe_show_exists_drop(engine):
    engine.execute_sql(
        "CREATE TABLE d1 (n string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false')"
    )
    desc = {r["name"]: r for r in engine.execute_sql("DESCRIBE d1").collect()}
    assert desc["n"]["is_tag"] and not desc["v"]["is_tag"]
    assert desc["t"]["is_primary"]
    assert [r["table_name"] for r in engine.execute_sql("SHOW TABLES").collect()] == ["d1"]
    assert [r["schema"] for r in engine.execute_sql("SHOW DATABASES").collect()] == ["public"]
    ddl = engine.execute_sql("SHOW CREATE TABLE d1").collect()[0]["create_table"]
    assert "timestamp KEY (`t`)" in ddl and "`n` string TAG" in ddl
    assert engine.execute_sql("EXISTS TABLE d1").collect()[0]["result"] == 1
    engine.execute_sql("DROP TABLE d1")
    assert engine.execute_sql("EXISTS TABLE d1").collect()[0]["result"] == 0


def test_alter_add_column_old_rows_null(engine):
    engine.execute_sql(
        "CREATE TABLE a1 (v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO a1 (v, t) VALUES (1, 1000)")
    engine.execute_sql("ALTER TABLE a1 ADD COLUMN (c2 string TAG)")
    engine.execute_sql("INSERT INTO a1 (v, t, c2) VALUES (2, 2000, 'new')")
    out = engine.execute_sql("SELECT v, c2 FROM a1 ORDER BY v")
    assert _rows(out, "v", "c2") == [(1.0, None), (2.0, "new")]
    # primary key cannot change (plan.rs:55-56)
    with pytest.raises(ValueError):
        engine.execute_sql("ALTER TABLE a1 ADD COLUMN (t timestamp)")


def test_compaction_keeps_added_column_values(engine):
    """compact() reads each leaf with the table's schema, not one file's:
    a leaf holding files from before and after ALTER ADD COLUMN keeps the
    added column's values.  Eight segments, so eight independent leaves
    each get the chance to pick the pre-ALTER file's schema."""
    engine.execute_sql(
        "CREATE TABLE a2 (v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='APPEND', segment_duration='2h')"
    )
    seg_ms = 2 * 3_600_000
    engine.execute_sql(
        "INSERT INTO a2 (v, t) VALUES " + ", ".join(f"({s}, {s * seg_ms})" for s in range(8))
    )
    engine.execute_sql("ALTER TABLE a2 ADD COLUMN (c string)")
    engine.execute_sql(
        "INSERT INTO a2 (v, t, c) VALUES "
        + ", ".join(f"({s + 0.5}, {s * seg_ms + 1}, 'c{s}')" for s in range(8))
    )
    expected = [(float(s), None) for s in range(8)] + [(s + 0.5, f"c{s}") for s in range(8)]
    assert engine.table("a2").compact() == 8
    out = engine.execute_sql("SELECT v, c FROM a2")
    assert sorted(_rows(out, "v", "c")) == sorted(expected)


def test_ttl_read_filter_and_expire(engine, spark):
    engine.execute_sql(
        "CREATE TABLE ttl1 (v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(ttl='1d', segment_duration='2h')"
    )
    day_ms = 86_400_000
    now = 10 * day_ms
    engine.execute_sql(
        f"INSERT INTO ttl1 (v, t) VALUES (1, {now - 2 * day_ms}), (2, {now - 1000})"
    )
    tbl = engine.table("ttl1")
    assert [r["v"] for r in tbl.read(now_ms=now).collect()] == [2.0]
    # segment-level purge drops only fully-expired segments
    dropped = tbl.ttl_expire(now_ms=now)
    assert dropped >= 1
    assert [r["v"] for r in tbl.read(now_ms=now).collect()] == [2.0]


def test_compaction_dedups_files(engine):
    engine.execute_sql(
        "CREATE TABLE c1 (k string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='OVERWRITE', segment_duration='2h')"
    )
    for i in range(4):
        engine.execute_sql(f"INSERT INTO c1 (k, v, t) VALUES ('a', {i}, 1000)")
    tbl = engine.table("c1")
    assert tbl.compact() >= 1
    out = tbl.read()
    assert [r["v"] for r in out.collect()] == [3.0]  # newest seq survives


def test_compaction_sizes_output_files(engine, spark):
    """Maintenance rewrites must be size-aware (VERDICT r03 #4): with a
    small target-bytes knob a multi-file segment compacts to N>1 files,
    each task-parallel — never a coalesce(1) funnel — and the result
    set is unchanged."""
    from incubator_horaedb_spark import fsops

    engine.execute_sql(
        "CREATE TABLE csz (k string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='APPEND', segment_duration='2h')"
    )
    values = ", ".join(f"('k{i % 7}', {i}, {1000 + i})" for i in range(500))
    for _ in range(3):  # several small files in one segment
        engine.execute_sql(f"INSERT INTO csz (k, v, t) VALUES {values}")
    tbl = engine.table("csz")
    before = sorted(r["v"] for r in tbl.read().collect())
    assert tbl.compact(target_file_bytes=4 * 1024) >= 1
    after = sorted(r["v"] for r in tbl.read().collect())
    assert after == before
    # all rows sit in __segment=0; what the file list names is on disk
    parquet_files = fsops.list_files(spark, engine.catalog.data_dir("csz"))
    assert parquet_files.keys() == engine.catalog.files("csz")[1].keys()
    assert len(parquet_files) > 1, parquet_files


def test_partition_rules_random_and_linear_key(spark, tmp_path):
    """Random + LINEAR KEY partition rules (partition/rule/random.rs:40-53,
    ast.rs:113-118, factory.rs:39): random scatters writes across
    partitions and reads always fan out to all of them; LINEAR KEY parses
    and round-trips through SHOW CREATE; HASH is rejected like the rule
    factory does."""
    import pytest as _pytest

    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.partition import PARTITION_COLUMN

    engine = Engine(spark, str(tmp_path / "store"))
    engine.execute_sql(
        "CREATE TABLE rscatter (v double, t timestamp NOT NULL, timestamp KEY(t)) "
        "PARTITION BY RANDOM PARTITIONS 8 ENGINE = Analytic "
        "WITH (enable_ttl='false', update_mode='append')"
    )
    vals = ", ".join(f"({1695348000000 + i}, {float(i)})" for i in range(400))
    engine.execute_sql(f"INSERT INTO rscatter (t, v) VALUES {vals}")
    import os

    ddir = engine.catalog.data_dir("rscatter")
    parts = {d for d in os.listdir(ddir) if d.startswith(f"{PARTITION_COLUMN}=")}
    assert len(parts) >= 4  # 400 uniform rows across 8 partitions: scattered
    assert engine.execute_sql("SELECT count(*) AS n FROM rscatter").collect()[0]["n"] == 400
    ddl = engine.execute_sql("SHOW CREATE TABLE rscatter").collect()[0]["create_table"]
    assert "PARTITION BY RANDOM PARTITIONS 8" in ddl

    engine.execute_sql(
        "CREATE TABLE lkey (k string TAG, v double, t timestamp NOT NULL, timestamp KEY(t)) "
        "PARTITION BY LINEAR KEY(k) PARTITIONS 4 ENGINE = Analytic WITH (enable_ttl='false')"
    )
    assert engine.catalog.get("lkey").options.partition_linear is True
    ddl = engine.execute_sql("SHOW CREATE TABLE lkey").collect()[0]["create_table"]
    assert "PARTITION BY LINEAR KEY(`k`) PARTITIONS 4" in ddl

    with _pytest.raises(ValueError, match="unsupported partition strategy"):
        engine.execute_sql(
            "CREATE TABLE h (k string TAG, t timestamp NOT NULL, timestamp KEY(t)) "
            "PARTITION BY HASH(k) PARTITIONS 4 ENGINE = Analytic"
        )
    with _pytest.raises(ValueError, match="must be tag"):
        engine.execute_sql(
            "CREATE TABLE nt (k string, v double, t timestamp NOT NULL, timestamp KEY(t)) "
            "PARTITION BY KEY(k) PARTITIONS 4 ENGINE = Analytic"
        )


def test_partition_by_key_parse(engine):
    engine.execute_sql(
        "CREATE TABLE p1 (k string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false') PARTITION BY KEY(k) PARTITIONS 4"
    )
    meta = engine.catalog.get("p1")
    assert meta.options.partition_keys == ["k"] and meta.options.num_partitions == 4


def test_streaming_ingest_auto_create_and_evolve(engine, spark, tmp_path):
    from incubator_horaedb_spark.streaming.ingest import start_ingest

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("h1", 1.5, datetime.datetime(2024, 1, 1))], "host string, v double, ts timestamp"
    ).write.parquet(src)
    stream = spark.readStream.schema("host string, v double, ts timestamp").parquet(src)
    q = start_ingest(engine, stream, "metrics", ts_col="ts", checkpoint_dir=ckpt)
    q.awaitTermination(60)
    meta = engine.catalog.get("metrics")
    assert meta.schema.tag_columns == ["host"]  # strings auto-TAG
    assert engine.table("metrics").read(now_ms=1704067200000 + 1000).count() == 1
    # evolve: second batch with a new column
    spark.createDataFrame(
        [("h2", 2.5, datetime.datetime(2024, 1, 1, 1), 7)],
        "host string, v double, ts timestamp, extra bigint",
    ).write.mode("append").parquet(src + "2")
    stream2 = spark.readStream.schema(
        "host string, v double, ts timestamp, extra bigint"
    ).parquet(src + "2")
    q2 = start_ingest(engine, stream2, "metrics", ts_col="ts", checkpoint_dir=ckpt + "2")
    q2.awaitTermination(60)
    out = engine.table("metrics").read(now_ms=1704067200000 + 3600_000 + 1000)
    rows = {r["host"]: r["extra"] for r in out.collect()}
    assert rows == {"h1": None, "h2": 7}


def test_streaming_line_protocol_ingest(engine, spark, tmp_path):
    # InfluxDB write path end-to-end: line-protocol text stream → parse →
    # auto-created per-measurement tables with TAG columns → query.
    from incubator_horaedb_spark.streaming.ingest import start_line_protocol_ingest

    src = tmp_path / "lp"
    src.mkdir()
    (src / "batch1.txt").write_text(
        "cpu,host=a,region=east usage=0.5,idle=99i 1704067200000000000\n"
        "cpu,host=b,region=west usage=0.7,idle=42i 1704067201000000000\n"
        "mem,host=a used=1024i 1704067200000000000\n"
    )
    stream = spark.readStream.format("text").load(str(src))
    q = start_line_protocol_ingest(engine, stream, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(60)

    assert sorted(engine.catalog.list_tables()) == ["cpu", "mem"]
    cpu_meta = engine.catalog.get("cpu")
    assert sorted(cpu_meta.schema.tag_columns) == ["host", "region"]
    now = 1704067300000
    rows = {
        r["host"]: (r["usage"], r["idle"])
        for r in engine.table("cpu").read(now_ms=now).collect()
    }
    assert rows == {"a": (0.5, 99), "b": (0.7, 42)}
    assert engine.table("mem").read(now_ms=now).collect()[0]["used"] == 1024


def test_streaming_line_protocol_heterogeneous(engine, spark, tmp_path):
    # Distributed-parse path corner cases: a quoted string FIELD must not
    # become a TAG, a tag absent from the first line still classifies as a
    # TAG (batch-union tag keys), and a field seen as int then float widens
    # to double.  The parse itself runs in mapInPandas on executors.
    from incubator_horaedb_spark.streaming.ingest import start_line_protocol_ingest

    src = tmp_path / "lp"
    src.mkdir()
    (src / "b1.txt").write_text(
        'app,host=a status="ok",hits=3i 1704067200000000000\n'
        "app,host=b,tier=web status=\"down\",hits=4.5 1704067201000000000\n"
    )
    stream = spark.readStream.format("text").load(str(src))
    q = start_line_protocol_ingest(engine, stream, checkpoint_dir=str(tmp_path / "ck2"))
    q.awaitTermination(60)

    meta = engine.catalog.get("app")
    assert sorted(meta.schema.tag_columns) == ["host", "tier"]
    by_host = {
        r["host"]: (r["status"], r["hits"], r["tier"])
        for r in engine.table("app").read(now_ms=1704067300000).collect()
    }
    assert by_host == {"a": ("ok", 3.0, None), "b": ("down", 4.5, "web")}


def test_catalog_maintenance_sweep(engine):
    # maintenance.py: one sweep compacts fragmented tables and purges
    # expired segments across the whole catalog (compaction/scheduler.rs
    # analogue as a batch job)
    from incubator_horaedb_spark.maintenance import run_maintenance

    day_ms = 86_400_000
    now = 10 * day_ms
    engine.execute_sql(
        "CREATE TABLE m1 (k string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='OVERWRITE', segment_duration='2h')"
    )
    for i in range(3):
        engine.execute_sql(f"INSERT INTO m1 (k, v, t) VALUES ('a', {i}, 1000)")
    engine.execute_sql(
        "CREATE TABLE m2 (v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(ttl='1d', segment_duration='2h')"
    )
    engine.execute_sql(
        f"INSERT INTO m2 (v, t) VALUES (1, {now - 2 * day_ms}), (2, {now - 1000})"
    )
    report = run_maintenance(engine, now_ms=now)
    assert report.compacted_partitions.get("m1", 0) >= 1
    assert report.expired_segments.get("m2", 0) >= 1
    assert report.total_compacted >= 1 and report.total_expired >= 1
    # semantics preserved after the sweep
    assert [r["v"] for r in engine.execute_sql("SELECT v FROM m1").collect()] == [2.0]
    assert [r["v"] for r in engine.table("m2").read(now_ms=now).collect()] == [2.0]


def test_catalog_maintenance_sweep_partitioned(engine):
    # a PARTITION BY KEY table stores __partition=P/__segment=S leaves; the
    # sweep must compact and expire those leaves, not only top-level
    # __segment=S directories
    import os

    from incubator_horaedb_spark.functions.timeutil import epoch_ms
    from incubator_horaedb_spark.maintenance import run_maintenance

    day_ms = 86_400_000
    now = 10 * day_ms
    engine.execute_sql(
        "CREATE TABLE mp (k string TAG, v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "PARTITION BY KEY(k) PARTITIONS 4 "
        "ENGINE=Analytic WITH(ttl='1d', update_mode='APPEND', segment_duration='2h')"
    )
    expected = []
    for b in range(4):
        rows = [(f"k{i}", float(b * 10 + i), now - 3_600_000 + b) for i in range(4)]
        old = [(k, v + 100, now - 2 * day_ms + b) for k, v, _ in rows]
        values = ", ".join(f"('{k}', {v}, {t})" for k, v, t in rows + old)
        engine.execute_sql(f"INSERT INTO mp (k, v, t) VALUES {values}")
        expected += rows

    data = engine.catalog.data_dir("mp")

    def leaf_files():
        return {
            f"{p}/{s}": [f for f in os.listdir(f"{data}/{p}/{s}") if f.endswith(".parquet")]
            for p in os.listdir(data)
            if p.startswith("__partition=")
            for s in os.listdir(f"{data}/{p}")
            if s.startswith("__segment=")
        }

    expired_seg = f"__segment={(now - 2 * day_ms) // 7_200_000}"
    before = leaf_files()
    expired = [leaf for leaf in before if leaf.endswith(expired_seg)]
    live = [leaf for leaf in before if leaf not in expired]
    assert expired and live
    assert all(len(files) == 4 for files in before.values())  # one per INSERT

    report = run_maintenance(engine, now_ms=now)
    assert report.expired_segments["mp"] == len(expired)
    assert report.compacted_partitions["mp"] == len(live)
    after = leaf_files()
    assert sorted(after) == sorted(live)  # expired leaves dropped
    assert all(len(files) == 1 for files in after.values())  # one file per leaf
    got = [
        (r["k"], r["v"], epoch_ms(r["t"]))
        for r in engine.table("mp").read(now_ms=now).collect()
    ]
    assert sorted(got) == sorted(expected)


def test_continuous_rollup_incremental(spark, tmp_path):
    """Hypertable-rollup analogue (maintenance.rollup_refresh/rollup_read):
    partial-aggregate materialization refreshed incrementally by sequence
    watermark; the merged read equals a direct aggregation of the raw
    table even when a bucket spans multiple refreshes."""
    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.maintenance import rollup_refresh, rollup_read

    engine = Engine(spark, str(tmp_path / "store"))
    engine.execute_sql(
        "CREATE TABLE metrics (host string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE = Analytic WITH (enable_ttl='false', update_mode='append')"
    )
    t0 = 1695348000000
    engine.execute_sql(
        f"INSERT INTO metrics (t, host, v) VALUES ({t0}, 'a', 1.0), "
        f"({t0 + 1000}, 'a', 3.0), ({t0 + 61_000}, 'b', 10.0)"
    )
    n1 = rollup_refresh(engine, "metrics", bucket_ms=60_000, value_col="v")
    assert n1 == 2  # (bucket0, a) and (bucket1, b)

    # second batch lands in an ALREADY-ROLLED bucket → new partial row
    engine.execute_sql(f"INSERT INTO metrics (t, host, v) VALUES ({t0 + 2000}, 'a', 5.0)")
    n2 = rollup_refresh(engine, "metrics", bucket_ms=60_000, value_col="v")
    assert n2 == 1  # only the new batch was scanned (watermark)

    merged = {
        (r["bucket_ts"].isoformat(), r["host"]): (r["cnt"], r["sum_v"], r["min_v"], r["max_v"], r["avg_v"])
        for r in rollup_read(engine, "metrics_rollup_60000").collect()
    }
    assert len(merged) == 2
    b0 = [v for k, v in merged.items() if k[1] == "a"][0]
    assert b0 == (3, 9.0, 1.0, 5.0, 3.0)  # bucket split across refreshes merges exactly
    b1 = [v for k, v in merged.items() if k[1] == "b"][0]
    assert b1 == (1, 10.0, 10.0, 10.0, 10.0)

    # idempotent when no new data
    assert rollup_refresh(engine, "metrics", bucket_ms=60_000, value_col="v") == 0


def test_rollup_refresh_concurrent_ingest_not_lost(spark, tmp_path, monkeypatch):
    """ADVICE r02 lost-update window: a batch ingested into the source
    WHILE a refresh is running (after its scan is built, before its
    watermark write) must be picked up by the NEXT refresh, not skipped.
    The fix snapshots hi = next_seq-1 before the scan and advances the
    watermark exactly to hi."""
    from incubator_horaedb_spark import maintenance
    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.maintenance import rollup_refresh, rollup_read

    engine = Engine(spark, str(tmp_path / "store"))
    engine.execute_sql(
        "CREATE TABLE cmetrics (host string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE = Analytic WITH (enable_ttl='false', update_mode='append')"
    )
    t0 = 1695348000000
    engine.execute_sql(f"INSERT INTO cmetrics (t, host, v) VALUES ({t0}, 'a', 1.0)")

    real_table = maintenance.Table
    fired = {}

    class RacingTable(real_table):
        def write(self, df):
            # concurrent ingest lands mid-refresh, between the source scan
            # and the destination write / watermark advance
            if self.name.startswith("cmetrics_rollup") and "x" not in fired:
                fired["x"] = True
                engine.execute_sql(
                    f"INSERT INTO cmetrics (t, host, v) VALUES ({t0 + 1000}, 'a', 9.0)"
                )
            return super().write(df)

    monkeypatch.setattr(maintenance, "Table", RacingTable)
    rollup_refresh(engine, "cmetrics", bucket_ms=60_000, value_col="v")
    assert fired  # the race actually happened during refresh #1
    # refresh #2 must see the mid-flight batch
    assert rollup_refresh(engine, "cmetrics", bucket_ms=60_000, value_col="v") == 1
    merged = rollup_read(engine, "cmetrics_rollup_60000").collect()
    assert len(merged) == 1
    assert (merged[0]["cnt"], merged[0]["sum_v"]) == (2, 10.0)
