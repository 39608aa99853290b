"""Core relational surface — the part of the reference that delegates to
DataFusion's engine (SURVEY §2.2, §2.3, §2.4, §2.6, §2.7) and that our port
delegates to Spark SQL / Catalyst.

Scan/filter/projection: src/table_engine/src/provider.rs:313-409 (pushdown);
aggregation: partial→final hash agg (golden plan
integration_tests/cases/common/optimizer/optimizer.result:29-31);
joins/set-ops/sorts: DataFusion built-ins reachable through
src/query_frontend/src/planner.rs:622-650.

Scale notes are inline: every query here is shuffle-minimal — filters reach
the parquet scan (PushedFilters), dimension joins are broadcast, and
aggregations are partial/final (map-side combine) by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_horaedb_spark.functions.detfloat import (
    BITS_MONEY,
    BITS_SMALL,
    dyadic,
    dyadic_sql,
    r_out,
    r_out_sql,
)
from incubator_horaedb_spark.querybank.registry import load, register
from incubator_horaedb_spark.scale import widen_by_key


# --- q1: pricing summary (flagship agg; partial/final hash aggregate) -----
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           (CAST(floor((sum(CAST(floor((l_quantity * 1048576) + 0.5) AS DOUBLE) / 1048576)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE))        AS sum_qty,
           (CAST(floor((sum(CAST(floor((l_extendedprice * 65536) + 0.5) AS DOUBLE) / 65536)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE))       AS sum_base_price,
           (CAST(floor((sum(CAST(floor((l_extendedprice * (1 - l_discount) * 65536) + 0.5) AS DOUBLE) / 65536)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS sum_disc_price,
           (CAST(floor((sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax) * 65536) + 0.5) AS DOUBLE) / 65536)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS sum_charge,
           (CAST(floor((avg(CAST(floor((l_quantity * 1048576) + 0.5) AS DOUBLE) / 1048576)) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(10000 AS DOUBLE))        AS avg_qty,
           (CAST(floor((avg(CAST(floor((l_extendedprice * 65536) + 0.5) AS DOUBLE) / 65536)) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(10000 AS DOUBLE))       AS avg_price,
           (CAST(floor((avg(CAST(floor((l_discount * 1048576) + 0.5) AS DOUBLE) / 1048576)) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(10000 AS DOUBLE))        AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incubator_horaedb_spark.querybank.registry import load_time_range

    # Ship-date bound filtered on the raw nanos column so it reaches
    # PushedFilters (row-group pruning at scale) — see load_time_range.
    li = load_time_range(spark, sf_dir, "lineitem", "l_shipdate", hi="2024-09-01 00:00:00")
    # Addends are dyadic-quantized (functions/detfloat.py) so group sums are
    # exact and order-independent — required for cross-engine hash equality,
    # harmless at the rounded output precision.  The aggregate list is
    # rendered through the SAME dyadic_sql/r_out_sql fragments the oracle
    # uses (engine-neutral arithmetic): one F.expr per output instead of
    # ~90 Column-object py4j round-trips (r12, guide §5 — build 0.25→0.1 s).
    disc_price = "(l_extendedprice * (1 - l_discount))"
    charge = f"({disc_price} * (1 + l_tax))"
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            *[
                F.expr(f"{e} AS {name}")
                for name, e in (
                    ("sum_qty", r_out_sql("sum(" + dyadic_sql("l_quantity", BITS_SMALL) + ")", 2)),
                    ("sum_base_price", r_out_sql("sum(" + dyadic_sql("l_extendedprice", BITS_MONEY) + ")", 2)),
                    ("sum_disc_price", r_out_sql("sum(" + dyadic_sql(disc_price, BITS_MONEY) + ")", 2)),
                    ("sum_charge", r_out_sql("sum(" + dyadic_sql(charge, BITS_MONEY) + ")", 2)),
                    ("avg_qty", r_out_sql("avg(" + dyadic_sql("l_quantity", BITS_SMALL) + ")", 4)),
                    ("avg_price", r_out_sql("avg(" + dyadic_sql("l_extendedprice", BITS_MONEY) + ")", 4)),
                    ("avg_disc", r_out_sql("avg(" + dyadic_sql("l_discount", BITS_SMALL) + ")", 4)),
                    ("count_order", "count(1)"),
                )
            ]
        )
    )


# --- scan + filter + projection pushdown ---------------------------------
@register(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both predicates reach the parquet scan as PushedFilters; ReadSchema
    # carries only the 6 referenced columns (provider.rs pushdown analogue).
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


# --- constant folding in filters (select_filter.sql:63-76) ----------------
@register(
    "filter_constant_fold",
    oracle="""
    SELECT event_id, value
    FROM events
    WHERE value > 50 + 49.5 AND value < 200 - 50
    """,
)
def filter_constant_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.filter((F.col("value") > F.lit(50) + F.lit(49.5)) & (F.col("value") < F.lit(200) - F.lit(50))).select(
        "event_id", "value"
    )


# --- ORDER BY + LIMIT → TakeOrderedAndProject top-k (select_order.sql) ----
@register(
    "topk_order_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, (CAST(floor((o_totalprice) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def topk_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark plans this as TakeOrderedAndProject: per-partition top-k then a
    # single merge — no global sort shuffle even at 100 TB.
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", r_out("o_totalprice", 2).alias("o_totalprice"))
        .limit(10)
    )


# --- GROUP BY + HAVING (select_having.sql) --------------------------------
@register(
    "group_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, (CAST(floor((sum(CAST(floor((o_totalprice * 65536) + 0.5) AS DOUBLE) / 65536)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS total
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15
    """,
)
def group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), r_out(F.sum(dyadic("o_totalprice", BITS_MONEY)), 2).alias("total"))
        .filter(F.col("n_orders") >= 15)
    )


# --- joins (SURVEY §2.3 — Spark provides all join types) ------------------
@register(
    "join_inner_3way",
    oracle="""
    SELECT c.c_mktsegment,
           (CAST(floor((sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount) * 65536) + 0.5) AS DOUBLE) / 65536)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY c.c_mktsegment
    """,
)
def join_inner_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load(spark, sf_dir, "customer")
    # customer is a dimension → broadcast to avoid shuffling the fact side;
    # lineitem⋈orders shuffles on orderkey (AQE may still broadcast orders
    # at small SF — both plans are correct at their scale).
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            r_out(F.sum(dyadic(F.col("l_extendedprice") * (1 - F.col("l_discount")), BITS_MONEY)), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, big.o_custkey == c.c_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select("c_custkey", "c_name")


# --- set operations (SURVEY §2.7) -----------------------------------------
@register(
    "set_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_nationkey AS nationkey, s_acctbal AS acctbal FROM supplier WHERE s_acctbal > 9000
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"), F.col("c_acctbal").alias("acctbal"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"), F.col("s_acctbal").alias("acctbal"))
    )
    return c.unionByName(s)


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@register(
    "set_intersect_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection (each key kept min(m, n)
    times).  Both engines implement it as a counted hash semi-match;
    Spark's intersectAll is one shuffle per side on the full row key —
    the same shape as INTERSECT, no extra passes for multiplicity."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@register(
    "set_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference (each key kept max(m - n, 0)
    times); completes the §2.7 set-operation family with the
    multiplicity-preserving variants."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


# --- DISTINCT aggregates (SURVEY §2.4) ------------------------------------
@register(
    "distinct_agg",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS ndv_users,
           count(*)                AS n
    FROM events
    GROUP BY event_type
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("ndv_users"), F.count(F.lit(1)).alias("n"))
    )


# --- IN / NOT IN list filters (OpenTSDB literal_or → IN, opentsdb/mod.rs:103-116)
@register(
    "in_list_filter",
    oracle="""
    SELECT event_id, event_type, (CAST(floor((value) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS value
    FROM events
    WHERE event_type IN ('click', 'purchase') AND user_id NOT IN (1, 2, 3)
    """,
)
def in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "purchase") & ~F.col("user_id").isin(1, 2, 3))
        .select("event_id", "event_type", r_out("value", 2).alias("value"))
    )


# --- SQL window functions (available via DataFusion; Spark built-in) ------
@register(
    "window_rownum_top2",
    oracle="""
    SELECT o_custkey, o_orderkey, (CAST(floor((o_totalprice) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 2
    """,
)
def window_rownum_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    # widen_by_key on the window's own partition key (r13): a deficient-
    # split scan (single-task sort, 1.6 s of single-core CPU at the sf1
    # tier) is pre-partitioned by o_custkey so the window's one exchange
    # moves BEFORE the sort and the sort runs wide; result-identical
    # because the window's sort key (o_totalprice DESC, o_orderkey) is
    # unique per group (o_orderkey is a key).  No-op whenever the natural
    # splits suffice (any real-scale table) or the input is < 8 MiB.
    return (
        widen_by_key(load(spark, sf_dir, "orders"), "o_custkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", r_out("o_totalprice", 2).alias("o_totalprice"))
    )


# --- scalar function sampler (string/date/math over DataFusion's library) -
@register(
    "scalar_functions",
    oracle="""
    SELECT n_nationkey,
           upper(n_name)                   AS uname,
           length(n_name)                  AS name_len,
           substr(n_name, 1, 3)            AS prefix3,
           concat(n_name, '-', CAST(n_regionkey AS VARCHAR)) AS tagged,
           (CAST(floor((sqrt(CAST(n_nationkey AS DOUBLE))) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(10000 AS DOUBLE))  AS sq,
           abs(n_regionkey - 2)            AS dist
    FROM nation
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.upper("n_name").alias("uname"),
        F.length("n_name").cast("long").alias("name_len"),
        F.substring("n_name", 1, 3).alias("prefix3"),
        F.concat(F.col("n_name"), F.lit("-"), F.col("n_regionkey").cast("string")).alias("tagged"),
        r_out(F.sqrt(F.col("n_nationkey").cast("double")), 4).alias("sq"),
        F.abs(F.col("n_regionkey") - 2).alias("dist"),
    )


# --- CASE expressions ------------------------------------------------------
@register(
    "case_when_bucketing",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 300000 THEN 'medium'
                ELSE 'large' END AS bucket,
           count(*) AS n,
           (CAST(floor((avg(CAST(floor((o_totalprice * 65536) + 0.5) AS DOUBLE) / 65536)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS avg_price
    FROM orders
    GROUP BY 1
    """,
)
def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
        .alias("bucket")
    )
    return o.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"), r_out(F.avg(dyadic("o_totalprice", BITS_MONEY)), 2).alias("avg_price")
    )


# --- GROUPING SETS / ROLLUP (SURVEY §2.4 — free in Spark SQL) -------------
@register(
    "rollup_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, (CAST(floor((sum(CAST(floor((o_totalprice * 65536) + 0.5) AS DOUBLE) / 65536)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), r_out(F.sum(dyadic("o_totalprice", BITS_MONEY)), 2).alias("total"))
    )
