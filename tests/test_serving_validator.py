"""Limiter / validator parity (proxy/src/limiter.rs, interpreters
validator.rs:47-105) plus the round-2 advisor fixes: typed tag/field
protocol parsing, read-only query dedup, scoped ts-literal coercion.
"""

from __future__ import annotations

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine, _extract_query_range_ms
from incubator_horaedb_spark.serving import (
    BlockedError,
    Limiter,
    PermissionDenied,
    StatementInfo,
    validate_partition_table_access,
)


@pytest.fixture()
def engine(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "store"))
    e.execute_sql(
        "CREATE TABLE demo (name string TAG, value double, "
        "t timestamp NOT NULL, timestamp KEY (t)) WITH (enable_ttl='false')"
    )
    e.execute_sql("INSERT INTO demo (t, name, value) VALUES (1651737067000, 'a', 1)")
    return e


# ------------------------------------------------------------- limiter --
def test_read_block_list_covers_join_and_comma_join(engine):
    engine.execute_sql(
        "CREATE TABLE other (name string TAG, w double, "
        "t timestamp NOT NULL, timestamp KEY (t)) WITH (enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO other (t, name, w) VALUES (1651737067000, 'a', 2)")
    engine.limiter.block_read("other")
    for sql in (
        "SELECT count(*) FROM demo JOIN other ON demo.name = other.name",
        "SELECT count(*) FROM demo, other WHERE demo.name = other.name",
    ):
        with pytest.raises(BlockedError, match=r"blocked, table:other, op:query"):
            engine.execute_sql(sql)
    engine.limiter.unblock_read("other")
    n = engine.execute_sql(
        "SELECT count(*) AS n FROM demo, other WHERE demo.name = other.name"
    ).collect()[0]["n"]
    assert n == 1


def test_read_block_list(engine):
    engine.limiter.block_read("demo")
    with pytest.raises(BlockedError, match=r"blocked, table:demo, op:query"):
        engine.execute_sql("SELECT * FROM demo")
    # writes to a read-blocked table still pass (limiter.rs: read list only
    # consulted for Plan::Query)
    assert engine.execute_sql(
        "INSERT INTO demo (t, name, value) VALUES (1651737067001, 'b', 2)"
    ) == 1
    engine.limiter.unblock_read("demo")
    assert engine.execute_sql("SELECT * FROM demo").count() == 2


def test_write_block_list(engine):
    engine.limiter.block_write("demo")
    with pytest.raises(BlockedError, match=r"blocked, table:demo, op:insert"):
        engine.execute_sql("INSERT INTO demo (t, name, value) VALUES (2, 'c', 3)")
    # reads unaffected
    assert engine.execute_sql("SELECT * FROM demo").count() == 1


def test_block_rules(engine):
    engine.limiter.add_rule("AnyInsert")
    with pytest.raises(BlockedError, match=r"blocked by rule"):
        engine.execute_sql("INSERT INTO demo (t, name, value) VALUES (2, 'c', 3)")
    engine.limiter.remove_rule("AnyInsert")

    engine.limiter.add_rule("QueryWithoutPredicate")
    with pytest.raises(BlockedError, match=r"QueryWithoutPredicate"):
        engine.execute_sql("SELECT * FROM demo")
    # predicated query passes
    assert engine.execute_sql("SELECT * FROM demo WHERE name = 'a'").count() == 1
    engine.limiter.remove_rule("QueryWithoutPredicate")

    # QueryRange: known range over threshold is blocked; unbounded is NOT
    # (limiter.rs should_limit: query_range() None → no block)
    engine.limiter.add_rule("QueryRange", 3600_000)
    with pytest.raises(BlockedError, match=r"QueryRange"):
        engine.execute_sql(
            "SELECT * FROM demo WHERE t >= 1651737067000 AND t <= 1651750000000"
        )
    assert engine.execute_sql("SELECT * FROM demo WHERE t >= 1651737067000").count() == 1


def test_extract_query_range_ms():
    assert _extract_query_range_ms("SELECT 1 FROM x WHERE t BETWEEN 100 AND 700", {"t"}) == 600
    assert _extract_query_range_ms("SELECT 1 FROM x WHERE t >= 100 AND t < 700", {"t"}) == 600
    assert _extract_query_range_ms("SELECT 1 FROM x WHERE t >= 100", {"t"}) is None
    assert _extract_query_range_ms("SELECT 1 FROM x", {"t"}) is None


# ------------------------------------------------------------ validator --
def test_sub_partition_table_access_denied(engine):
    info = StatementInfo(kind="query", tables={"__demo_0"})
    with pytest.raises(PermissionDenied):
        validate_partition_table_access(info)
    # enabled → allowed
    validate_partition_table_access(info, enable_partition_table_access=True)
    # wired into the engine dispatch
    with pytest.raises(PermissionDenied):
        engine.execute_sql("SELECT * FROM `__demo_0`")
    with pytest.raises(PermissionDenied):
        engine.execute_sql("DROP TABLE `__demo_0`")
    engine.enable_partition_table_access = True
    # now fails later (no such table), not at the validator
    with pytest.raises(Exception, match="(?i)table"):
        engine.execute_sql("DROP TABLE `__demo_0`")


def test_limiter_unit():
    lim = Limiter(read_block_list=["t1"], rules=[("AnyQuery",)])
    with pytest.raises(BlockedError):
        lim.try_limit(StatementInfo(kind="query", tables={"t1"}))
    lim2 = Limiter()
    lim2.try_limit(StatementInfo(kind="query", tables={"t1"}))  # no-op


# ----------------------------------------------- scoped ts coercion fix --
def test_ts_coercion_scoped_to_referenced_tables(engine):
    # another table whose *timestamp key* is named `value` — before the
    # scoping fix, its ts-column name would poison comparisons against
    # demo's double column `value` anywhere in the catalog
    engine.execute_sql(
        "CREATE TABLE other (tag1 string TAG, x double, "
        "value timestamp NOT NULL, timestamp KEY (value)) WITH (enable_ttl='false')"
    )
    out = engine.execute_sql("SELECT name FROM demo WHERE value > 0")
    assert out.count() == 1  # double comparison, NOT timestamp_millis(0)


def test_ts_coercion_skips_string_literals(engine):
    # an integer that happens to follow the ts-column name inside a string
    # literal must not be rewritten
    out = engine.execute_sql(
        "SELECT name FROM demo WHERE name != 't = 5' AND t >= 1651737067000"
    )
    assert out.count() == 1


# --------------------------------------------- typed protocol parsing --
def test_line_protocol_tag_field_split():
    from incubator_horaedb_spark.frontends.influxql import parse_line_protocol_typed

    batches = parse_line_protocol_typed(
        'cpu,host=a usage=0.5,note="hot" 1700000000000000000\n'
        "cpu,host=b,rack=r1 usage=0.7 1700000001000000000\n"
    )
    b = batches["cpu"]
    # quoted string FIELD is not a tag; tag absent from first line still is
    assert b.tag_keys == {"host", "rack"}
    assert b.rows[0]["note"] == "hot"


def test_opentsdb_put_typed():
    from incubator_horaedb_spark.frontends.opentsdb import parse_put_typed

    batches = parse_put_typed(
        [
            {"metric": "m", "timestamp": 1700000000, "value": 1.0, "tags": {"h": "a"}},
            {"metric": "m", "timestamp": 1700000001, "value": 2.0, "tags": {"dc": "x"}},
        ]
    )
    assert batches["m"].tag_keys == {"h", "dc"}


def test_ingest_rows_all_none_column(engine):
    # a column None in every row must not break schema inference
    from incubator_horaedb_spark.catalog import TableOptions
    from incubator_horaedb_spark.streaming.ingest import ingest_rows

    n = ingest_rows(
        engine,
        "hetero",
        [
            {"ts": 1700000000000, "value": 1.0, "maybe": None},
            {"ts": 1700000001000, "value": 2.0, "maybe": None},
        ],
        tag_cols=[],
        options=TableOptions(enable_ttl=False),
    )
    assert n == 2
    assert engine.table("hetero").read().count() == 2


# ----------------------------------------------- system catalog table --
def test_system_public_tables(engine):
    # system_tables.sql:30 — the reference's own case is disabled with a
    # TODO ("Couldn't find table in table container"); here it answers
    out = engine.execute_sql(
        "SELECT `timestamp`, `catalog`, `schema`, table_name, engine "
        "FROM system.public.tables WHERE table_name = 'demo'"
    )
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["catalog"], r["schema"], r["table_name"], r["engine"]) == (
        "horaedb", "public", "demo", "Analytic"
    )
    assert r["timestamp"] is not None  # creation time recorded


# --------------------------------------------------- read-only dedup --
def test_server_dedups_only_reads(engine):
    from incubator_horaedb_spark.server import EngineServer

    srv = EngineServer(engine)
    try:
        srv.handle_sql("SELECT * FROM demo")
        assert srv.dedup.executed == 1
        srv.handle_sql("INSERT INTO demo (t, name, value) VALUES (9, 'z', 9)")
        # the write never entered the dedup map
        assert srv.dedup.executed == 1
    finally:
        srv.httpd.server_close()
