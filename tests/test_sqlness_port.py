"""Ports of the reference's sqlness regression cases through our SQL
dialect shim (SURVEY §5 port strategy: translate each case, assert the
semantics the golden .result file pins down).

Cases: issue-59 (GROUP BY expression + DISTINCT agg), issue-302
(count(distinct tag) over NULL tags), issue-341 (append/overwrite re-read
with filters), issue-637 (multi-typed TAG columns incl. varbinary),
select_having, select_order (reference files under
integration_tests/cases/common/dml/).
"""

from __future__ import annotations

import pytest

from incubator_horaedb_spark.frontends.sql_shim import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def test_issue59_group_by_expression(engine):
    # integration_tests/cases/common/dml/issue-59.sql: grouping by `id+1`
    # with count(distinct account) must not break column resolution.
    engine.execute_sql(
        "CREATE TABLE issue59 (ts timestamp NOT NULL, id int, account string, "
        "timestamp KEY (ts)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql(
        "INSERT INTO issue59 (ts, id, account) VALUES "
        "(1, 1, 'a'), (2, 1, 'b'), (3, 2, 'a'), (4, 2, 'a')"
    )
    df = engine.execute_sql(
        "SELECT id+1 AS id_plus, count(distinct(account)) AS n FROM issue59 GROUP BY id+1"
    )
    assert sorted(_rows(df, "id_plus", "n")) == [(2, 2), (3, 1)]


def test_issue302_count_distinct_null_tag(engine):
    # issue-302.sql: count(distinct name) where the tag was never written
    # (NULL) grouped by the timestamp key must yield 0, not error.
    engine.execute_sql(
        "CREATE TABLE issue302 (`name` string TAG, `value` double NOT NULL, "
        "`t` timestamp NOT NULL, timestamp KEY (t)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO issue302 (t, value) VALUES (1651737067000, 100)")
    df = engine.execute_sql(
        "SELECT `t`, count(distinct name) AS n FROM issue302 GROUP BY `t`"
    )
    rows = _rows(df, "n")
    assert rows == [(0,)]


def test_issue341_append_filters(engine):
    # issue-341.sql: append-mode table — duplicate-timestamp rows all kept,
    # value and tag filters return the matching rows.
    engine.execute_sql(
        "CREATE TABLE issue341_t1 (`timestamp` timestamp NOT NULL, `value` int, "
        "`tag1` string TAG, timestamp KEY (`timestamp`)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='append')"
    )
    engine.execute_sql(
        "INSERT INTO issue341_t1 (`timestamp`, `value`, `tag1`) "
        "VALUES (1, 1, 't1'), (2, 2, 't2'), (3, 3, 't3')"
    )
    assert len(engine.execute_sql("SELECT * FROM issue341_t1").collect()) == 3
    df = engine.execute_sql("SELECT `value` FROM issue341_t1 WHERE `value` = 3")
    assert _rows(df, "value") == [(3,)]
    df = engine.execute_sql("SELECT `value` FROM issue341_t1 WHERE tag1 = 't3'")
    assert _rows(df, "value") == [(3,)]


def test_issue637_multi_typed_tags(engine):
    # issue-637.sql: string/int32/varbinary TAG columns round-trip; tsid
    # derivation over heterogeneous tag types must be deterministic.
    engine.execute_sql(
        "CREATE TABLE issue637 (str_tag string TAG, int_tag int32 TAG, "
        "var_tag varbinary TAG, str_field string, int_field int32, "
        "t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql(
        "INSERT INTO issue637 (str_tag, int_tag, var_tag, str_field, int_field, t) "
        "VALUES ('t1', 1, 'v1', 's1', 1, 1651737067000)"
    )
    row = engine.execute_sql("SELECT * FROM issue637").collect()[0]
    assert row["str_tag"] == "t1" and row["int_tag"] == 1
    assert bytes(row["var_tag"]) == b"v1"
    # same tag set twice in overwrite mode would collapse; append default
    # here: re-insert and expect both rows
    engine.execute_sql(
        "INSERT INTO issue637 (str_tag, int_tag, var_tag, str_field, int_field, t) "
        "VALUES ('t1', 1, 'v1', 's2', 2, 1651737068000)"
    )
    assert len(engine.execute_sql("SELECT * FROM issue637").collect()) == 2


def test_select_having(engine):
    # select_having.sql: GROUP BY value % 3 HAVING max > 10000
    engine.execute_sql(
        "CREATE TABLE having_t (`timestamp` timestamp NOT NULL, `value` int, "
        "timestamp KEY (`timestamp`)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql(
        "INSERT INTO having_t (`timestamp`, `value`) VALUES "
        "(1, 101), (2, 1002), (3, 203), (4, 30004), (5, 4405), (6, 406)"
    )
    df = engine.execute_sql(
        "SELECT `value` % 3 AS m, MAX(`value`) AS max FROM having_t "
        "GROUP BY `value` % 3 ORDER BY max ASC"
    )
    # golden: select_having.result — (2,203),(0,1002),(1,30004)
    assert _rows(df, "m", "max") == [(2, 203), (0, 1002), (1, 30004)]
    df = engine.execute_sql(
        "SELECT `value` % 3 AS m, MAX(`value`) AS max FROM having_t "
        "GROUP BY `value` % 3 HAVING max > 10000 ORDER BY max ASC"
    )
    assert _rows(df, "m", "max") == [(1, 30004)]


def test_select_order(engine):
    # select_order.sql: ASC / DESC with LIMIT
    engine.execute_sql(
        "CREATE TABLE order_t (`timestamp` timestamp NOT NULL, `value` int, "
        "timestamp KEY (`timestamp`)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql(
        "INSERT INTO order_t (`timestamp`, `value`) VALUES "
        "(1, 100), (2, 1000), (3, 200), (4, 30000), (5, 4400), (6, 400)"
    )
    df = engine.execute_sql("SELECT `value` FROM order_t ORDER BY `value` DESC LIMIT 3")
    assert _rows(df, "value") == [(30000,), (4400,), (1000,)]
    df = engine.execute_sql("SELECT `value` FROM order_t ORDER BY `value` ASC LIMIT 3")
    assert _rows(df, "value") == [(100,), (200,), (400,)]


def test_alter_modify_setting(engine):
    # env/cluster/ddl/alter_table.sql:43-49: MODIFY SETTING ttl / unknown
    # options accepted (write_buffer_size lands in extra)
    engine.execute_sql(
        "CREATE TABLE ms1 (v double, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql("ALTER TABLE ms1 MODIFY SETTING ttl='10d', enable_ttl='true'")
    opts = engine.catalog.get("ms1").options
    assert opts.enable_ttl is True and opts.ttl_ms == 10 * 86_400_000
    engine.execute_sql("ALTER TABLE ms1 MODIFY SETTING write_buffer_size='300M'")
    assert engine.catalog.get("ms1").options.extra["write_buffer_size"] == "300M"
    # previously-set options survive a partial modify
    assert engine.catalog.get("ms1").options.ttl_ms == 10 * 86_400_000


def test_function_aggregate_corpus(engine):
    # cases/common/function/aggregate.sql — sum/count/avg/min/max over
    # int + uint64, ms-integer literal time filter (TypeConversion),
    # tsid-mode overwrite on re-insert, DISTINCT.
    engine.execute_sql(
        "CREATE TABLE agg1 (`timestamp` timestamp NOT NULL, `arch` string TAG, "
        "`datacenter` string TAG, `value` int, `uvalue` uint64, "
        "timestamp KEY (timestamp)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql(
        "INSERT INTO agg1 (`timestamp`, `arch`, `datacenter`, `value`, `uvalue`) VALUES "
        "(1658304762, 'x86-64', 'china', 100, 10), (1658304763, 'x86-64', 'china', 200, 10), "
        "(1658304762, 'arm64', 'china', 110, 0), (1658304763, 'arm64', 'china', 210, 0)"
    )
    one = lambda sql: engine.execute_sql(sql).collect()[0][0]
    assert one("SELECT sum(`value`) FROM agg1") == 620
    # golden: x86-64 → 200, arm64 → 210 (ms-integer literals in BETWEEN,
    # type_conversion.rs:295-355 parity)
    df = engine.execute_sql(
        "SELECT `arch`, sum(`value`) AS s FROM agg1 "
        "WHERE `timestamp` BETWEEN 1658304763 AND 1658304763 "
        "GROUP BY `arch` ORDER BY `arch` DESC"
    )
    assert [(r["arch"], r["s"]) for r in df.collect()] == [("x86-64", 200), ("arm64", 210)]
    assert one("SELECT count(`value`) FROM agg1") == 4
    assert one("SELECT avg(`value`) FROM agg1") == 155.0
    assert one("SELECT max(`value`) FROM agg1") == 210
    assert one("SELECT min(`value`) FROM agg1") == 100
    # golden: UInt64(18446744073709551606) — u64 maps to Long (SURVEY §7.5),
    # so the same bit pattern reads as -10 ≡ 2^64 - 10 (mod 2^64)
    assert one("SELECT min(`uvalue`) - max(`uvalue`) FROM agg1") == -10
    # tsid-mode overwrite: same tags + ts → newest wins, uvalue nulled
    engine.execute_sql(
        "INSERT INTO agg1 (`timestamp`, `arch`, `datacenter`, `value`) "
        "VALUES (1658304762, 'x86-64', 'china', 100)"
    )
    assert one("SELECT count(`arch`) FROM agg1") == 4
    df = engine.execute_sql("SELECT distinct(`arch`) FROM agg1 ORDER BY `arch` DESC")
    assert [r["arch"] for r in df.collect()] == ["x86-64", "arm64"]
    assert one("SELECT count(distinct(`arch`)) FROM agg1") == 2


def test_basic_corpus_mixed_case_and_varbinary(engine):
    # common/basic.sql: mixed-case quoted identifiers are preserved
    # exactly; varbinary columns round-trip hex literals (x'11') and
    # filter on them.
    engine.execute_sql(
        "CREATE TABLE `DeMo` (`nAmE` string TAG, value double NOT NULL, "
        "t timestamp NOT NULL, timestamp KEY (t)) ENGINE = Analytic "
        "WITH (enable_ttl = 'false')"
    )
    assert engine.execute_sql("SELECT `nAmE` FROM `DeMo`").columns == ["nAmE"]
    engine.execute_sql(
        "CREATE TABLE `binary_demo` (`name` string TAG, `value` varbinary NOT NULL, "
        "`t` timestamp NOT NULL, timestamp KEY (t)) ENGINE=Analytic "
        "WITH (enable_ttl = 'false')"
    )
    engine.execute_sql(
        "INSERT INTO binary_demo(t, name, value) VALUES(1667374200022, 'horaedb', x'11')"
    )
    rows = engine.execute_sql("SELECT * FROM binary_demo WHERE value = x'11'").collect()
    assert len(rows) == 1 and rows[0]["value"] == b"\x11"


def test_optimizer_explain_partial_agg(engine):
    # common/optimizer/optimizer.sql: EXPLAIN of a grouped agg shows the
    # two-phase (partial → final) aggregation the reference pins
    engine.execute_sql(
        "CREATE TABLE `07_optimizer_t` (name string TAG, value double NOT NULL, "
        "t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE=Analytic with (enable_ttl='false')"
    )
    out = engine.execute_sql(
        "EXPLAIN SELECT max(value) AS c1, avg(value) AS c2 FROM `07_optimizer_t` GROUP BY name"
    ).collect()
    text = "\n".join(str(r) for r in out)
    assert "HashAggregate" in text and "partial" in text.lower()


def test_insert_mode_corpus(engine):
    # common/dml/insert_mode.sql: OVERWRITE dedups by (tsid, timestamp)
    # keeping the newest write; APPEND keeps every row; default mode is
    # OVERWRITE (table_options.rs:157-161).
    engine.execute_sql(
        "CREATE TABLE `03_dml_insert_mode_t1` (`timestamp` timestamp NOT NULL, "
        "`value` double, `dic` string dictionary, timestamp KEY (timestamp)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='OVERWRITE')"
    )
    engine.execute_sql(
        "INSERT INTO `03_dml_insert_mode_t1` (`timestamp`, `value`, `dic`) "
        "VALUES (1, +10, 'd1'), (2, 0, 'd2'), (3, -30, 'd1')"
    )
    vals = [
        r["value"]
        for r in engine.execute_sql(
            "SELECT * FROM `03_dml_insert_mode_t1` ORDER BY `value` ASC"
        ).collect()
    ]
    assert vals == [-30.0, 0.0, 10.0]
    engine.execute_sql(
        "INSERT INTO `03_dml_insert_mode_t1` (`timestamp`, `value`) "
        "VALUES (1, 100), (2, 200), (3, 300)"
    )
    rows = engine.execute_sql(
        "SELECT * FROM `03_dml_insert_mode_t1` ORDER BY `value` ASC"
    ).collect()
    assert [r["value"] for r in rows] == [100.0, 200.0, 300.0]  # newest write wins
    assert all(r["dic"] in (None, "") for r in rows)  # dic not carried over

    engine.execute_sql(
        "CREATE TABLE `03_dml_insert_mode_t2` (`timestamp` timestamp NOT NULL, "
        "`value` double, `dic` string dictionary, timestamp KEY (timestamp)) "
        "ENGINE=Analytic WITH(enable_ttl='false', update_mode='APPEND')"
    )
    engine.execute_sql(
        "INSERT INTO `03_dml_insert_mode_t2` (`timestamp`, `value`, `dic`) "
        "VALUES (1, 10, 'd1'), (2, 20, ''), (3, 30, 'd2')"
    )
    engine.execute_sql(
        "INSERT INTO `03_dml_insert_mode_t2` (`timestamp`, `value`, `dic`) "
        "VALUES (1, 100, 'd2'), (2, 200, 'd1'), (3, 300, '')"
    )
    vals = [
        r["value"]
        for r in engine.execute_sql(
            "SELECT * FROM `03_dml_insert_mode_t2` ORDER BY `value` ASC"
        ).collect()
    ]
    assert vals == [10.0, 20.0, 30.0, 100.0, 200.0, 300.0]  # append keeps all

    # default mode is OVERWRITE
    engine.execute_sql(
        "CREATE TABLE `03_dml_insert_mode_t3` (`timestamp` timestamp NOT NULL, "
        "`value` double, timestamp KEY (timestamp)) ENGINE=Analytic "
        "WITH(enable_ttl='false')"
    )
    assert engine.catalog.get("03_dml_insert_mode_t3").options.update_mode == "OVERWRITE"


@pytest.mark.parametrize("with_rows", [True, False])
def test_dropped_table_is_not_found(engine, with_rows):
    # a table queried once keeps a registered temp view; DROP TABLE must
    # remove it, or the view serves deleted files (FILE_NOT_EXIST) or, for
    # a table that never had rows, an empty relation
    engine.execute_sql(
        "CREATE TABLE drop_me (ts timestamp NOT NULL, v double, "
        "timestamp KEY (ts)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    if with_rows:
        engine.execute_sql("INSERT INTO drop_me (ts, v) VALUES (1, 10)")
    assert engine.execute_sql("SELECT count(*) AS n FROM drop_me").collect()[0]["n"] == int(
        with_rows
    )
    engine.execute_sql("DROP TABLE drop_me")
    with pytest.raises(Exception, match="(?i)table or view|not.*found|cannot be found"):
        engine.execute_sql("SELECT count(*) FROM drop_me").collect()


def test_case_sensitive_wrong_case_errors(engine):
    # case_sensitive.sql/.result: SELECT from CASE_SENSITIVE_TABLE1 when the
    # table is case_SENSITIVE_table1 must fail with table-not-found
    # (spark.sql.caseSensitive=true in the shim's query path).
    engine.execute_sql(
        "CREATE TABLE case_SENSITIVE_t (ts timestamp NOT NULL, VALUE1 double, "
        "timestamp KEY (ts)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO case_SENSITIVE_t (ts, VALUE1) VALUES (1, 10)")
    assert engine.execute_sql("SELECT * FROM case_SENSITIVE_t").count() == 1
    with pytest.raises(Exception, match="(?i)table or view|not.*found|cannot be found"):
        engine.execute_sql("SELECT * FROM CASE_SENSITIVE_T").collect()
    # full case_sensitive.sql sequence: backtick-quoted names follow the
    # same exact-case rule; SHOW CREATE / DESC with wrong case error too
    assert engine.execute_sql("SELECT * FROM `case_SENSITIVE_t`").count() == 1
    with pytest.raises(Exception, match="(?i)table or view|not.*found|cannot be found"):
        engine.execute_sql("SELECT * FROM `CASE_SENSITIVE_T`").collect()
    ddl = engine.execute_sql("SHOW CREATE TABLE `case_SENSITIVE_t`").collect()[0]
    assert "case_SENSITIVE_t" in ddl["create_table"]
    with pytest.raises(Exception):
        engine.execute_sql("SHOW CREATE TABLE `CASE_SENSITIVE_T`").collect()
    assert engine.execute_sql("DESCRIBE `case_SENSITIVE_t`").count() >= 2
    with pytest.raises(Exception):
        engine.execute_sql("DESCRIBE `CASE_SENSITIVE_T`").collect()


def test_issue_1087_explain_verbose(engine):
    # common/dml/issue-1087.sql: `explain verbose select *` must run and
    # surface the optimized plan (the reference case pins its optimizer
    # rule list; the Spark rendering maps VERBOSE → EXPLAIN EXTENDED and
    # the analyzed/optimized sections stand in for the rule dump).
    engine.execute_sql(
        "CREATE TABLE `issue_1087` (`name` string TAG NULL, `value` double NOT NULL, "
        "`t` timestamp NOT NULL, timestamp KEY (t)) ENGINE=Analytic with (enable_ttl='false')"
    )
    out = engine.execute_sql("explain verbose select * from issue_1087").collect()
    text = "\n".join(str(r) for r in out)
    assert "Optimized Logical Plan" in text or "plan" in text.lower()
    engine.execute_sql("DROP TABLE `issue_1087`")


def test_show_create_defaults(engine):
    # cases/common/show/show_create_table.sql: DEFAULT column values are
    # kept in metadata, applied on INSERT for missing columns, and printed
    # by SHOW CREATE TABLE (planner.rs:908 insert default-value exprs).
    engine.execute_sql(
        "CREATE TABLE show_a (a bigint, b int DEFAULT 3, c string DEFAULT 'x', "
        "d int, t timestamp NOT NULL, timestamp KEY (t)) ENGINE=Analytic "
        "WITH(enable_ttl='false')"
    )
    ddl = engine.execute_sql("SHOW CREATE TABLE show_a").collect()[0]["create_table"]
    assert "DEFAULT 3" in ddl and "DEFAULT 'x'" in ddl
    engine.execute_sql("INSERT INTO show_a (a, t) VALUES (1, 1000)")
    row = engine.execute_sql("SELECT * FROM show_a").collect()[0]
    assert (row["b"], row["c"], row["d"]) == (3, "x", None)


def test_dummy_tableless_selects(engine):
    # cases/common/dummy/select_1.sql: table-less SELECTs evaluate; invalid
    # references (SELECT x / SELECT *) error.
    assert engine.execute_sql("SELECT 1").collect()[0][0] == 1
    assert engine.execute_sql("SELECT 'a'").collect()[0][0] == "a"
    assert engine.execute_sql("SELECT NOT(1=1)").collect()[0][0] is False
    assert engine.execute_sql("SELECT 10 - 2 * 3").collect()[0][0] == 4
    assert engine.execute_sql("SELECT (10 - 2) * 3").collect()[0][0] == 24
    with pytest.raises(Exception):
        engine.execute_sql("SELECT x").collect()


def test_mysql_protocol_statement_shapes(engine):
    # integration_tests/mysql/basic.sh — the statements the MySQL wire
    # frontend must accept (the framing is transport; semantics land here):
    # unquoted WITH option values, select with now(), double-quoted strings.
    assert [r for r in engine.execute_sql("SHOW TABLES").collect()] == []
    row = engine.execute_sql("select 1, now()").collect()[0]
    assert row[0] == 1 and row[1] is not None
    engine.execute_sql(
        "CREATE TABLE `demo`(`name` string TAG, `id` int TAG, `value` double NOT NULL, "
        "`t` timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic with(enable_ttl=false)"
    )
    engine.execute_sql('insert into demo (name, value, t) values ("horaedb", 1, 1683280523000)')
    out = engine.execute_sql("select * from demo").collect()
    assert len(out) == 1 and out[0]["name"] == "horaedb" and out[0]["value"] == 1.0


def test_partition_table_corpus(engine):
    # env/cluster/ddl/partition_table.sql: PARTITION BY before ENGINE/WITH,
    # SHOW CREATE includes the partition clause, equality and IN filters
    # return the right rows, ALTER ADD COLUMN works on partitioned tables.
    engine.execute_sql(
        "CREATE TABLE `partition_table_t`(`name` string TAG, `id` int TAG, "
        "`value` double NOT NULL, `t` timestamp NOT NULL, TIMESTAMP KEY(t)) "
        "PARTITION BY KEY(name) PARTITIONS 4 ENGINE = Analytic with (enable_ttl='false')"
    )
    ddl = engine.execute_sql("SHOW CREATE TABLE partition_table_t").collect()[0][
        "create_table"
    ]
    assert "PARTITION BY KEY(`name`) PARTITIONS 4" in ddl
    vals = ", ".join(f"(1651737067000, 'horaedb{i}', {100 + i})" for i in range(11))
    engine.execute_sql(f"INSERT INTO partition_table_t (t, name, value) VALUES {vals}")
    out = engine.execute_sql(
        "SELECT * from partition_table_t where name = 'horaedb0'"
    ).collect()
    assert len(out) == 1 and out[0]["value"] == 100.0
    out = engine.execute_sql(
        "SELECT * from partition_table_t where name in "
        "('horaedb0','horaedb1','horaedb2','horaedb3','horaedb4') order by name"
    ).collect()
    assert [r["name"] for r in out] == [f"horaedb{i}" for i in range(5)]
    # pruning via the Table API matches the SQL result
    pruned = engine.table("partition_table_t").read_pruned({"name": "horaedb0"})
    assert [r["value"] for r in pruned.collect()] == [100.0]
    engine.execute_sql("ALTER TABLE partition_table_t ADD COLUMN (b string)")
    engine.execute_sql(
        "INSERT INTO partition_table_t (t, name, value, b) VALUES (1651737068000, 'x', 1, 'bb')"
    )
    out = engine.execute_sql(
        "SELECT b from partition_table_t where name = 'x'"
    ).collect()
    assert out[0]["b"] == "bb"


def test_create_tables_corpus(engine):
    # env/local/ddl/create_tables.sql: inline TIMESTAMP KEY, exactly-one
    # timestamp key, duplicate-create errors, IF NOT EXISTS, expression
    # DEFAULTs (incl. cross-column), dictionary type validation.
    with pytest.raises(ValueError):  # no timestamp key (schema.rs:628)
        engine.execute_sql("CREATE TABLE ct (c1 int) ENGINE = Analytic")
    engine.execute_sql(
        "CREATE TABLE ct (c1 int, t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic"
    )
    with pytest.raises(Exception):  # duplicate create
        engine.execute_sql(
            "CREATE TABLE ct (c1 int, t timestamp NOT NULL, TIMESTAMP KEY(t)) ENGINE = Analytic"
        )
    engine.execute_sql(  # IF NOT EXISTS is fine
        "CREATE TABLE IF NOT EXISTS ct (c1 int, t timestamp NOT NULL, TIMESTAMP KEY(t)) "
        "ENGINE = Analytic"
    )
    # inline timestamp key
    engine.execute_sql(
        "CREATE TABLE ct5 (c1 int, t timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic"
    )
    desc = {r["name"]: r for r in engine.execute_sql("DESCRIBE TABLE ct5").collect()}
    assert desc["t"]["is_primary"]
    with pytest.raises(ValueError):  # two timestamp keys
        engine.execute_sql(
            "CREATE TABLE ct6 (c1 int, t1 timestamp NOT NULL TIMESTAMP KEY, "
            "t2 timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic"
        )
    with pytest.raises(Exception):  # dictionary only for string
        engine.execute_sql(
            "CREATE TABLE ct9 (c1 int, d double dictionary, "
            "t1 timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic"
        )
    # expression defaults, incl. one referencing an earlier default column
    engine.execute_sql(
        "CREATE TABLE ct9 (c1 int, c2 bigint default 0, c3 int default 1 + 1, "
        "c4 string default 'xxx', c5 int default c3*2 + 1, "
        "t1 timestamp NOT NULL TIMESTAMP KEY) ENGINE = Analytic "
        "WITH(enable_ttl='false')"  # the epoch-1970 test row must survive TTL
    )
    engine.execute_sql("INSERT INTO ct9 (c1, t1) VALUES (7, 1000)")
    row = engine.execute_sql("SELECT * FROM ct9").collect()[0]
    assert (row["c2"], row["c3"], row["c4"], row["c5"]) == (0, 2, "xxx", 5)


def test_alter_table_corpus(engine):
    # env/local/ddl/alter_table.sql: INSERT INTO TABLE keyword, ALTER ADD
    # COLUMN (incl. dictionary), RENAME TO / DROP COLUMN rejected like the
    # reference ("Unsupported SQL statement").
    engine.execute_sql(
        "CREATE TABLE at0 (a int, t timestamp NOT NULL, dic string dictionary, "
        "TIMESTAMP KEY(t)) ENGINE = Analytic with (enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO TABLE at0 (a, t, dic) values (1, 1, 'd1')")
    assert engine.execute_sql("SELECT * FROM at0").count() == 1
    with pytest.raises(ValueError):
        engine.execute_sql("ALTER TABLE at0 RENAME TO t1")
    engine.execute_sql("ALTER TABLE at0 add COLUMN (b string)")
    engine.execute_sql("ALTER TABLE at0 add COLUMN (add_dic string dictionary)")
    desc = {r["name"]: r for r in engine.execute_sql("DESCRIBE TABLE at0").collect()}
    assert desc["add_dic"]["is_dictionary"]
    engine.execute_sql(
        "INSERT INTO TABLE at0 (a, b, t, dic, add_dic) "
        "VALUES (2, '2', 2, 'd11', 'd22'), (3, '3', 3, 'd22', 'd33')"
    )
    assert engine.execute_sql("SELECT * FROM at0").count() == 3
    with pytest.raises(ValueError):
        engine.execute_sql("ALTER TABLE at0 DROP COLUMN b")


def test_system_tables_show_like(engine):
    # env/local/system/system_tables.sql: SHOW TABLES LIKE '01%' — SQL-LIKE
    # pattern filtering of the table list (show.rs:208-216 to_pattern_re).
    engine.execute_sql(
        "CREATE TABLE `01_system_table1` (`timestamp` timestamp NOT NULL, "
        "`arch` string TAG, `value` double, timestamp KEY (timestamp)) ENGINE=Analytic"
    )
    engine.execute_sql(
        "CREATE TABLE other_table (`t` timestamp NOT NULL, `v` double, "
        "timestamp KEY (t)) ENGINE=Analytic"
    )
    like = [r["table_name"] for r in engine.execute_sql("SHOW TABLES LIKE '01%'").collect()]
    assert like == ["01_system_table1"]
    # '_' is a single-char wildcard, pattern is anchored (show.rs:214-215)
    assert engine.execute_sql("SHOW TABLES LIKE '01_system_table_'").count() == 1
    assert engine.execute_sql("SHOW TABLES LIKE '01'").count() == 0
    both = [r["table_name"] for r in engine.execute_sql("SHOW TABLES").collect()]
    assert set(both) >= {"01_system_table1", "other_table"}


def test_explain_corpus(engine):
    # common/explain/explain.sql: EXPLAIN SELECT returns a plan; dml/
    # issue-1087.sql: `explain verbose` (DataFusion all-passes rendering) is
    # accepted and maps to Spark's EXPLAIN EXTENDED.
    engine.execute_sql(
        "CREATE TABLE `04_explain_t` (t timestamp NOT NULL, TIMESTAMP KEY(t)) "
        "ENGINE=Analytic"
    )
    plan = engine.execute_sql("EXPLAIN SELECT t FROM `04_explain_t`").collect()[0][0]
    assert "Scan" in plan or "Physical" in plan
    verbose = engine.execute_sql(
        "explain verbose select * from `04_explain_t`"
    ).collect()[0][0]
    assert "Parsed Logical Plan" in verbose  # all optimizer stages shown
    engine.execute_sql("DROP TABLE `04_explain_t`")


def test_select_filter_arithmetic_predicates(engine):
    # integration_tests/cases/common/dml/select_filter.sql: WHERE with a
    # constant-folded arithmetic bound (value > 50+50) and a conjunctive
    # range, ordered ascending.
    engine.execute_sql(
        "CREATE TABLE `03_dml_select_filter_table1` (`timestamp` timestamp NOT NULL, "
        "`value` int, timestamp KEY (timestamp)) ENGINE=Analytic WITH(enable_ttl='false')"
    )
    engine.execute_sql(
        "INSERT INTO `03_dml_select_filter_table1` (`timestamp`, `value`) VALUES "
        "(1, 100), (2, 1000), (3, 200), (4, 30000), (5, 4400), (6, 400)"
    )
    df = engine.execute_sql(
        "SELECT `value` FROM `03_dml_select_filter_table1` "
        "where `value` > 50+50 ORDER BY `value` ASC"
    )
    assert [r["value"] for r in df.collect()] == [200, 400, 1000, 4400, 30000]
    df = engine.execute_sql(
        "SELECT `value` FROM `03_dml_select_filter_table1` "
        "where `value` > 50+50 and `value` <= 4400 ORDER BY `value` ASC"
    )
    assert [r["value"] for r in df.collect()] == [200, 400, 1000, 4400]


def test_sampling_primary_key(engine):
    # integration_tests/cases/env/local/ddl/sampling-primary-key.sql: an
    # APPEND table's first flush samples per-column NDV and rewrites the
    # SST sort key to (lowest-NDV key-kind cols..., tsid, t); SHOW CREATE
    # surfaces it as the PRIMARY KEY afterwards (.result:68 shows PRIMARY
    # KEY(myVALUE,name,tsid,t)).  Float columns are never eligible
    # (datum.rs is_key_kind).
    engine.execute_sql(
        "CREATE TABLE `sampling_primary_key_table` (v1 double, v2 double, v3 double, "
        "v5 double, name string TAG, myVALUE int64 NOT NULL, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE = Analytic WITH (update_mode='append', enable_ttl='false')"
    )
    pre = engine.execute_sql("show create table `sampling_primary_key_table`").collect()[0]
    assert "PRIMARY KEY" not in pre["create_table"]  # not sampled yet

    engine.execute_sql(
        "INSERT INTO `sampling_primary_key_table` (t, name, myVALUE) VALUES "
        "(1695348000000, 'horaedb2', 200), (1695348000005, 'horaedb2', 100), "
        "(1695348000001, 'horaedb1', 100), (1695348000003, 'horaedb3', 200)"
    )
    meta = engine.catalog.get("sampling_primary_key_table")
    # myVALUE (ndv 2) before name (ndv 3); doubles excluded; tsid + ts tail
    assert meta.options.sampled_sort_key == ["myVALUE", "name", "tsid", "t"]
    post = engine.execute_sql("show create table `sampling_primary_key_table`").collect()[0]
    assert "PRIMARY KEY(`myVALUE`, `name`, `tsid`, `t`)" in post["create_table"]

    # all four rows still read back (sort is physical layout only)
    df = engine.execute_sql("select name, myVALUE from `sampling_primary_key_table`")
    assert sorted(_rows(df, "name", "myVALUE")) == [
        ("horaedb1", 100), ("horaedb2", 100), ("horaedb2", 200), ("horaedb3", 200),
    ]

    # second write + compaction keep using the sampled key without resampling
    engine.execute_sql(
        "INSERT INTO `sampling_primary_key_table` (t, name, myVALUE) VALUES "
        "(1695348000007, 'horaedb4', 300)"
    )
    from incubator_horaedb_spark.table import Table

    Table(engine.spark, engine.catalog, "sampling_primary_key_table").compact()
    assert engine.catalog.get("sampling_primary_key_table").options.sampled_sort_key == [
        "myVALUE", "name", "tsid", "t",
    ]
    df = engine.execute_sql("select count(*) as n from `sampling_primary_key_table`")
    assert df.collect()[0]["n"] == 5


def test_sampling_primary_key_with_explicit_segment_duration(engine):
    # sampler.rs parity (ADVICE r02): PrimaryKeySampler runs on the first
    # flush REGARDLESS of an explicit segment_duration — previously the
    # sampling was nested under the duration-is-unset branch and these
    # tables never got a sort key (while re-running the NDV aggregates on
    # every subsequent write).
    engine.execute_sql(
        "CREATE TABLE expl_seg_tbl (name string TAG, myVALUE int64 NOT NULL, "
        "v double, t timestamp NOT NULL, timestamp KEY (t)) ENGINE = Analytic "
        "WITH (update_mode='append', enable_ttl='false', segment_duration='2h')"
    )
    engine.execute_sql(
        "INSERT INTO expl_seg_tbl (t, name, myVALUE) VALUES "
        "(1695348000000, 'a', 7), (1695348000001, 'b', 7), (1695348000002, 'c', 7)"
    )
    meta = engine.catalog.get("expl_seg_tbl")
    assert meta.options.segment_duration_ms == 2 * 3600 * 1000  # untouched
    assert meta.options.sampled_sort_key == ["myVALUE", "name", "tsid", "t"]
    # second write: first-flush-only sampling leaves the key unchanged
    engine.execute_sql(
        "INSERT INTO expl_seg_tbl (t, name, myVALUE) VALUES (1695348000003, 'z', 1)"
    )
    assert engine.catalog.get("expl_seg_tbl").options.sampled_sort_key == [
        "myVALUE", "name", "tsid", "t",
    ]


def test_sampling_primary_key_skips_overwrite_tables(engine):
    # support_sample_pk (table_options.rs:521-526): OVERWRITE tables keep
    # their dedup key untouched — no sampled sort key.
    engine.execute_sql(
        "CREATE TABLE ow_tbl (name string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE = Analytic WITH (update_mode='overwrite', enable_ttl='false')"
    )
    engine.execute_sql("INSERT INTO ow_tbl (t, name, v) VALUES (1695348000000, 'a', 1.0)")
    assert engine.catalog.get("ow_tbl").options.sampled_sort_key is None


def test_column_metadata_roundtrip_and_schema_version(engine):
    # column_schema.rs:180-200 + schema.rs:654 parity: COMMENT and
    # dictionary survive CREATE → catalog → SHOW CREATE/DESCRIBE, and
    # ALTER ADD COLUMN bumps the schema version.
    engine.execute_sql(
        "CREATE TABLE meta_tbl (name string TAG dictionary COMMENT 'host name', "
        "v double COMMENT 'reading', t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE = Analytic WITH (enable_ttl='false')"
    )
    meta = engine.catalog.get("meta_tbl")
    assert meta.schema.version == 1
    by_name = {c.name: c for c in meta.schema.columns}
    assert by_name["name"].is_dictionary and by_name["name"].comment == "host name"
    assert by_name["v"].comment == "reading"

    ddl = engine.execute_sql("SHOW CREATE TABLE meta_tbl").collect()[0]["create_table"]
    assert "dictionary" in ddl and "COMMENT 'host name'" in ddl and "COMMENT 'reading'" in ddl

    desc = {r["name"]: r for r in engine.execute_sql("DESCRIBE meta_tbl").collect()}
    assert desc["name"]["is_dictionary"] is True and desc["v"]["is_dictionary"] is False

    engine.execute_sql("ALTER TABLE meta_tbl ADD COLUMN (region string TAG)")
    assert engine.catalog.get("meta_tbl").schema.version == 2


def test_insert_select_materialization(engine):
    # Beyond-reference: INSERT INTO ... SELECT (the reference rejects
    # non-VALUES insert sources, planner.rs:1212) — materializes a filtered
    # slice through the normal distributed write path.
    engine.execute_sql(
        "CREATE TABLE src_t (name string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE = Analytic WITH (enable_ttl='false')"
    )
    engine.execute_sql(
        "INSERT INTO src_t (t, name, v) VALUES (1695348000000, 'a', 1.0), "
        "(1695348000001, 'b', 5.0), (1695348000002, 'c', 9.0)"
    )
    engine.execute_sql(
        "CREATE TABLE dst_t (name string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE = Analytic WITH (enable_ttl='false')"
    )
    n = engine.execute_sql("INSERT INTO dst_t (name, v, t) SELECT name, v, t FROM src_t WHERE v > 2")
    assert n == 2
    df = engine.execute_sql("SELECT name, v FROM dst_t ORDER BY name")
    assert _rows(df, "name", "v") == [("b", 5.0), ("c", 9.0)]


def test_create_table_as_select(engine):
    # CTAS (beyond-reference): schema inferred from the query, the single
    # timestamp column becomes the key; options pass through WITH(...).
    engine.execute_sql(
        "CREATE TABLE ctas_src (name string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE = Analytic WITH (enable_ttl='false')"
    )
    engine.execute_sql(
        "INSERT INTO ctas_src (t, name, v) VALUES (1695348000000, 'a', 1.0), "
        "(1695348000001, 'b', 5.0)"
    )
    engine.execute_sql(
        "CREATE TABLE ctas_dst WITH (enable_ttl='false', update_mode='append') "
        "AS SELECT name, v * 2 AS v2, t FROM ctas_src WHERE v > 2"
    )
    df = engine.execute_sql("SELECT name, v2 FROM ctas_dst")
    assert _rows(df, "name", "v2") == [("b", 10.0)]
    meta = engine.catalog.get("ctas_dst")
    assert meta.schema.timestamp_column == "t"
    assert meta.options.update_mode == "APPEND"
    # IF NOT EXISTS short-circuits
    engine.execute_sql(
        "CREATE TABLE IF NOT EXISTS ctas_dst AS SELECT name, v * 2 AS v2, t "
        "FROM ctas_src"
    )
    assert engine.execute_sql("SELECT count(*) AS n FROM ctas_dst").collect()[0]["n"] == 1


def test_optimize_zorder_rewrite(engine):
    from incubator_horaedb_spark.table import Table

    engine.execute_sql(
        "CREATE TABLE zt (a int64, b int64, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE = Analytic WITH (enable_ttl='false', update_mode='append')"
    )
    vals = ", ".join(
        f"(169534800000{i % 10}, {i % 7}, {(i * 3) % 5}, {float(i)})" for i in range(40)
    )
    engine.execute_sql(f"INSERT INTO zt (t, a, b, v) VALUES {vals}")
    tbl = Table(engine.spark, engine.catalog, "zt")
    n = tbl.optimize_zorder(["a", "b"], bits=8)
    assert n >= 1
    # all rows survive, values intact
    df = engine.execute_sql("SELECT count(*) AS n, sum(v) AS s FROM zt").collect()[0]
    assert df["n"] == 40 and abs(df["s"] - sum(float(i) for i in range(40))) < 1e-9
    # rows inside the rewritten file are z-ordered: read preserves file order
    import pyspark.sql.functions as F

    raw = engine.spark.read.parquet(engine.catalog.data_dir("zt"))
    z = raw.select(Table.zorder_column(["a", "b"], 8).alias("z")).collect()
    zs = [r["z"] for r in z]
    assert zs == sorted(zs)
    # non-integer columns rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="integer-kind"):
        tbl.optimize_zorder(["v"])
