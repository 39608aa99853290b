"""TSDB-flavored operators: time_bucket / date_bin buckets, downsampling,
dedup-on-read (Overwrite tables), append-mode chain reads, timestamp literal
coercion, approximate NDV.

References:
- time_bucket: src/df_operator/src/udfs/time_bucket.rs:85-342
- date_bin corpus: integration_tests/cases/common/function/date_bin.sql
- merge+dedup read: src/analytic_engine/src/row_iter/{merge.rs,dedup.rs}
- chain (Append) read: src/analytic_engine/src/row_iter/chain.rs
- TypeConversion (ts literals): src/query_frontend/src/logical_optimizer/type_conversion.rs:295-355
- thetasketch_distinct: src/df_operator/src/udfs/thetasketch_distinct.rs
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from incubator_horaedb_spark import fsops, scale
from incubator_horaedb_spark.functions.time_bucket import (
    date_bin,
    date_bin_sql,
    time_bucket,
    time_bucket_sql,
)
from incubator_horaedb_spark.functions.detfloat import (
    BITS_SMALL,
    dyadic,
    dyadic_sql,
    r_out,
    r_out_sql,
    stddev_samp_det,
    stddev_samp_det_sql,
)
from incubator_horaedb_spark.querybank.registry import load, register
from incubator_horaedb_spark.scale import widen_by_key


@register(
    "time_bucket_minute",
    oracle=f"""
    SELECT {time_bucket_sql('ts', 'PT5M')} AS bucket,
           event_type,
           count(*) AS n,
           (CAST(floor((sum(CAST(floor((value * 1048576) + 0.5) AS DOUBLE) / 1048576)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def time_bucket_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    # At 100 TB the bucket column is also the partition key (segment_duration
    # ladder, sampler.rs:42-51), so this groupBy prunes + combines map-side.
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(time_bucket("ts", "PT5M").alias("bucket"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), r_out(F.sum(dyadic("value", BITS_SMALL)), 2).alias("sum_value"))
    )


@register(
    "time_bucket_hour",
    oracle=f"""
    SELECT {time_bucket_sql('ts', 'PT1H')} AS bucket,
           count(*) AS n,
           (CAST(floor((avg(CAST(floor((value * 1048576) + 0.5) AS DOUBLE) / 1048576)) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(10000 AS DOUBLE)) AS avg_value,
           count(DISTINCT user_id) AS ndv_users
    FROM events
    GROUP BY 1
    """,
)
def time_bucket_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(time_bucket("ts", "PT1H").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        r_out(F.avg(dyadic("value", BITS_SMALL)), 4).alias("avg_value"),
        F.countDistinct("user_id").alias("ndv_users"),
    )


@register(
    "date_bin_15m",
    oracle=f"""
    SELECT {date_bin_sql(900000, 'ts')} AS bin,
           (CAST(floor((max(value)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS max_value,
           (CAST(floor((min(value)) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS min_value
    FROM events
    WHERE event_type = 'view'
    GROUP BY 1
    """,
)
def date_bin_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    return ev.groupBy(date_bin(900000, "ts").alias("bin")).agg(
        r_out(F.max("value"), 2).alias("max_value"),
        r_out(F.min("value"), 2).alias("min_value"),
    )


# --- dedup-on-read: the Overwrite-mode merge semantics --------------------
@register(
    "dedup_latest_by_key",
    oracle="""
    SELECT event_id, ts, user_id, event_type, (CAST(floor((value) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)) AS value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def dedup_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeIterator+DedupIterator semantics: for an Overwrite table the read
    keeps only the newest row per primary key (row_iter/dedup.rs:57-264,
    sequence-ordered).  Here pk=(user_id, event_type), seq=(ts, event_id).
    """
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    # widen_by_key on the merge key (r13): the dedup sort over a deficient-
    # split scan was a single task (1.7 s of single-core CPU at the sf1
    # tier); pre-partitioning by the window's own keys keeps ONE exchange
    # and runs the sort wide.  Result-identical: the sort key
    # (ts DESC, event_id DESC) is unique per group (event_id is a key).
    return (
        widen_by_key(load(spark, sf_dir, "events"), "user_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", r_out("value", 2).alias("value"))
    )


# --- chain read: Append-mode concatenation without merge ------------------
@register(
    "chain_append_read",
    oracle="""
    SELECT event_id, ts, event_type FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT event_id, ts, event_type FROM events WHERE event_type = 'signup' AND value > 90
    """,
)
def chain_append_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChainIterator (chain.rs:1-499): Append tables concatenate source
    streams with no sort/merge → plain unionByName."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    a = ev.filter(F.col("event_type") == "error")
    b = ev.filter((F.col("event_type") == "signup") & (F.col("value") > 90))
    return a.unionByName(b).select("event_id", "ts", "event_type")


# --- timestamp literal coercion (TypeConversion analyzer parity) ----------
@register(
    "ts_literal_coercion",
    oracle="""
    SELECT event_id, ts
    FROM events
    WHERE ts > TIMESTAMP '2024-01-28 12:00:00'
      AND epoch_ms(ts) < 1706702400000
    """,
)
def ts_literal_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String and ms-epoch integer literals compared against the timestamp
    key (type_conversion.rs:295-355).  Spark casts strings natively; the
    ms-integer comparison is expressed via unix_millis."""
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") > F.lit("2024-01-28 12:00:00").cast("timestamp"))
        & (F.unix_millis(F.col("ts")) < 1706702400000)
    ).select("event_id", "ts")


# --- BETWEEN time-range scan (PredicateBuilder::extract_time_range) -------
@register(
    "time_range_scan",
    oracle="""
    SELECT event_id, ts, user_id, event_type
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-11 00:00:00'
    """,
)
def time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference derives a TimeRange from WHERE and prunes segments
    (predicate.rs:180-197); on Spark the predicate must hit the RAW nanos
    column (load_time_range) to reach PushedFilters — a filter on the
    converted timestamp cannot be inverted by Catalyst and would scan every
    row group at 100 TB."""
    from incubator_horaedb_spark.querybank.registry import load_time_range

    ev = load_time_range(
        spark, sf_dir, "events", "ts", lo="2024-01-10 00:00:00", hi="2024-01-11 00:00:00"
    )
    return ev.select("event_id", "ts", "user_id", "event_type")


# --- approximate NDV (thetasketch_distinct) -------------------------------
# Exact-by-construction sketch gate (VERDICT r11 #3: the driver has no
# tolerance lane, so the gate emits only deterministically-checkable
# columns).  The sketch is a KMV theta sketch (functions/sketches.py —
# the reference's actual sketch family, thetasketch_distinct.rs:63-202,
# whose point is the losslessly-mergeable state):
#   * merge_diff — estimate(merge of 16 per-shard partial sketches) minus
#     estimate(direct sketch).  The k-min state is a pure function of the
#     distinct set, so this is EXACTLY 0.0; any corruption in the
#     partial-build/merge/estimate chain flips the hash.
#   * within_4rsd — |estimate − exact NDV| ≤ 4·rsd·exact (rsd = 1/√(k−2)
#     ≈ 1.6%); the accuracy bound, moved from the old local-only
#     tolerance lane into the hash-gated projection (TRUE by the KMV
#     error bound; exact whenever NDV ≤ k).
#   * exact_ndv — COUNT(DISTINCT), the substantive DuckDB-checkable
#     payload the estimate is judged against.
@register(
    "thetasketch_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_ndv,
           CAST(0.0 AS DOUBLE) AS merge_diff,
           TRUE AS within_4rsd
    FROM events GROUP BY event_type
    """,
)
def thetasketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incubator_horaedb_spark.functions.sketches import (
        KMV_RSD,
        kmv_estimate,
        kmv_merge,
        kmv_salt_buckets,
        kmv_sketch_df,
        kmv_sketch_ndv_df,
    )

    ev = load(spark, sf_dir, "events")
    # bounded builds above the size gate (r13; see sketches.py) — results
    # bitwise identical at every m by the k-min identity
    m = kmv_salt_buckets(scale.scan_stats(ev).bytes)
    direct = kmv_sketch_ndv_df(
        ev, ["event_type"], "user_id", m=m, out="sk_direct", ndv_col="exact_ndv"
    )
    merged = (
        kmv_sketch_df(
            ev.withColumn("shard", F.pmod(F.xxhash64("user_id"), F.lit(16))),
            ["event_type", "shard"],
            "user_id",
            m=m,
        )
        .groupBy("event_type")
        .agg(kmv_merge("sk").alias("sk_merged"))
    )
    est_d, est_m = kmv_estimate("sk_direct"), kmv_estimate("sk_merged")
    return direct.join(merged, "event_type").select(
        "event_type",
        "exact_ndv",
        (est_m - est_d).alias("merge_diff"),
        (
            F.abs(est_d - F.col("exact_ndv"))
            <= F.lit(4 * KMV_RSD) * F.col("exact_ndv")
        ).alias("within_4rsd"),
    )


# --- salted two-phase aggregation (skew utility, gated) -------------------
@register(
    "salted_distinct_users",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS ndv_users
    FROM events GROUP BY event_type
    """,
)
def salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-key NDV under a hot key via operators/salt.py: phase 1
    collects distinct sets per (key, salt), phase 2 merges the ≤ n_salts
    partials per key — the heavy collect state never lands on one reducer.
    Hash-matches the direct COUNT(DISTINCT) oracle."""
    from incubator_horaedb_spark.operators.salt import salted_agg

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    return salted_agg(
        ev,
        ["event_type"],
        partial_aggs=[F.collect_set("user_id").alias("us")],
        combine_aggs=[
            F.size(F.array_distinct(F.flatten(F.collect_list("us"))))
            .cast("bigint")
            .alias("ndv_users")
        ],
    )


# --- OpenTSDB-style downsample (opentsdb/mod.rs:137-200) ------------------
@register(
    "downsample_stddev",
    oracle=f"""
    SELECT {time_bucket_sql('ts', 'PT30M')} AS bucket,
           event_type,
           (CAST(floor(({stddev_samp_det_sql('value')}) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(10000 AS DOUBLE)) AS dev_value,
           (CAST(floor((avg(CAST(floor((value * 1048576) + 0.5) AS DOUBLE) / 1048576)) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(10000 AS DOUBLE)) AS avg_value
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY 1, 2
    """,
)
def downsample_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenTSDB 'dev' aggregator (= sample stddev, opentsdb/mod.rs:121-134)
    over 30-minute downsample buckets."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "error"))
    return ev.groupBy(time_bucket("ts", "PT30M").alias("bucket"), "event_type").agg(
        r_out(stddev_samp_det("value"), 4).alias("dev_value"),
        r_out(F.avg(dyadic("value", BITS_SMALL)), 4).alias("avg_value"),
    )


# --- temporal joins (operators/temporal.py) -------------------------------
# As-of join: purchases pick up the user's newest signup at-or-before the
# purchase.  The DuckDB oracle is the engine-NATIVE ASOF LEFT JOIN, so the
# gate proves the union-marker window composition (one shuffle on the key)
# computes the textbook semantics.
@register(
    "asof_join_events",
    oracle="""
    WITH ev AS (SELECT user_id, epoch_ms(ts) AS t, event_type, value FROM events),
         l AS (SELECT user_id, t AS purchase_t, value AS purchase_value
               FROM ev WHERE event_type = 'purchase'),
         r AS (SELECT user_id, t AS signup_t, max(value) AS signup_value
               FROM ev WHERE event_type = 'signup' GROUP BY user_id, t)
    SELECT l.user_id, l.purchase_t, l.purchase_value, r.signup_t, r.signup_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.purchase_t >= r.signup_t
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incubator_horaedb_spark.operators.temporal import asof_join

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("t"), "event_type", "value"
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("t").alias("purchase_t"), F.col("value").alias("purchase_value")
    )
    right = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", F.col("t").alias("signup_t"))
        .agg(F.max("value").alias("signup_value"))
    )
    return asof_join(left, right, on=["user_id"], left_ts="purchase_t",
                     right_ts="signup_t", suffix="")


# Interval join: error events matched to the enclosing activity session
# (sessions derived by the gap sessionizer).  Key-bounded candidates —
# the user_id equi-join IS the candidate generation; no cartesian.
def _interval_join_oracle() -> str:
    from incubator_horaedb_spark.operators.dialect import DUCK
    from incubator_horaedb_spark.operators.pipeline import sessionize_sql

    return f"""
    WITH sess AS ({sessionize_sql(DUCK)}),
         iv AS (SELECT user_id, session_start AS s_start,
                       session_start + duration_ms AS s_end FROM sess),
         p AS (SELECT user_id, epoch_ms(ts) AS t FROM events WHERE event_type = 'error')
    SELECT p.user_id, p.t AS point_t, iv.s_start, iv.s_end
    FROM p JOIN iv ON p.user_id = iv.user_id
    WHERE p.t >= iv.s_start AND p.t <= iv.s_end
    """


@register("interval_join_sessions", oracle=_interval_join_oracle())
def interval_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incubator_horaedb_spark.operators.dialect import SPARK
    from incubator_horaedb_spark.operators.pipeline import sessionize_sql
    from incubator_horaedb_spark.operators.temporal import interval_join

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    sess = spark.sql(sessionize_sql(SPARK)).select(
        "user_id",
        F.col("session_start").alias("s_start"),
        (F.col("session_start") + F.col("duration_ms")).alias("s_end"),
    )
    points = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("user_id", F.unix_millis("ts").alias("point_t"))
    )
    return interval_join(
        points, sess, point_ts="point_t", start="s_start", end="s_end", on=["user_id"]
    )


# --- time_bucket_gapfill + LOCF (hypertable gapfill analogue) -------------
def _gapfill_sql(engine: str) -> str:
    """Dual-rendered gap-filled downsample (public pattern: TimescaleDB
    time_bucket_gapfill + locf): a dense (event_type × 10-minute bucket)
    grid over one fixed day, LEFT-joined with the actual per-bucket
    averages, missing buckets filled by last-observation-carried-forward.

    Scale shape: the grid is generated (rows = types × buckets, never a
    scan), the actual aggregate is one map-side-combinable shuffle, the
    LOCF is one window keyed by event_type — the dashboard-densification
    query a time-series engine serves constantly.  Leading buckets before
    a series' first sample stay NULL (gap_filled still flags them).

    Engine deltas handled here: IGNORE NULLS placement
    (`last_value(x IGNORE NULLS)` in DuckDB vs `last_value(x) IGNORE
    NULLS` in Spark), grid generation (unnest(range) vs
    explode(sequence)), and ms-epoch → timestamp construction."""
    start_ms, end_ms, bucket_ms = 1704067200000, 1704153600000, 600_000
    n = (end_ms - start_ms) // bucket_ms
    q = dyadic_sql("value")
    avg6 = r_out_sql(f"avg({q})", 6)
    if engine == "spark":
        ks = f"(SELECT explode(sequence(0, {n - 1})) AS k)"
        to_ts = "timestamp_millis({ms})"
        ems = "unix_millis(ts)"
        locf = "last_value(avg_v) IGNORE NULLS"
    else:
        ks = f"(SELECT unnest(range(0, {n})) AS k)"
        to_ts = "make_timestamp(({ms}) * 1000)"
        ems = "epoch_ms(ts)"
        locf = "last_value(avg_v IGNORE NULLS)"
    grid_ts = to_ts.format(ms=f"{start_ms} + k * {bucket_ms}")
    actual_ts = to_ts.format(ms=f"CAST(floor(ems / {bucket_ms}) AS BIGINT) * {bucket_ms}")
    return f"""
    WITH grid AS (
      SELECT t.event_type, {grid_ts} AS bucket_ts
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN {ks} kk
    ), actual AS (
      SELECT event_type, {actual_ts} AS bucket_ts, {avg6} AS avg_v
      FROM (SELECT event_type, value, {ems} AS ems FROM events
            WHERE {ems} >= {start_ms} AND {ems} < {end_ms}) e
      GROUP BY 1, 2
    ), joined AS (
      SELECT g.event_type, g.bucket_ts, a.avg_v,
             (a.avg_v IS NULL) AS gap_filled
      FROM grid g LEFT JOIN actual a
        ON a.event_type = g.event_type AND a.bucket_ts = g.bucket_ts
    )
    SELECT event_type, bucket_ts,
           {locf} OVER (PARTITION BY event_type ORDER BY bucket_ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           gap_filled
    FROM joined
    """


@register("time_bucket_gapfill_locf", oracle=_gapfill_sql("duckdb"))
def time_bucket_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_gapfill_sql("spark"))


# --- M4 downsampling (beyond-reference; public: Jugel et al., VLDB 2014) --
# One BIGINT order key makes first/last deterministic: epoch_ms * 2^20 +
# event_id (unique; event_id < 2^20 at gate scale — at larger id ranges
# widen the shift, the pattern is unchanged).
_M4_OKEY = {
    "spark": "(unix_millis(ts) * 1048576 + event_id)",
    "duckdb": "(epoch_ms(ts) * 1048576 + event_id)",
}


def _m4_sql(engine: str) -> str:
    okey = _M4_OKEY[engine]
    amin = "min_by" if engine == "spark" else "arg_min"
    amax = "max_by" if engine == "spark" else "arg_max"
    stride = 15 * 60 * 1000
    if engine == "spark":
        bucket = (
            f"timestamp_millis(CAST(floor(unix_millis(ts) / {stride}) AS BIGINT)"
            f" * {stride})"
        )
    else:
        bucket = time_bucket_sql("ts", "PT15M")
    return f"""
    SELECT {bucket} AS bucket,
           event_type,
           count(*) AS n,
           min(value) AS v_min,
           max(value) AS v_max,
           {amin}(value, {okey}) AS v_first,
           {amax}(value, {okey}) AS v_last
    FROM events
    GROUP BY 1, 2
    """


@register("m4_downsample", oracle=_m4_sql("duckdb"))
def m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014, public):
    per (bucket, series) emit min/max/first/last — the four points that
    make a pixel-perfect line rendering of arbitrary-size data.  A pure
    partial→final hash aggregate (min/max/arg_min/arg_max all combine
    map-side), so the downsample runs at scan speed at any corpus size;
    no value quantization needed because no values are summed."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_m4_sql("spark"))


# --- time-weighted average (beyond-reference; the TimescaleDB-style agg) --
def _twa_sql(engine: str) -> str:
    okey = _M4_OKEY[engine]
    dt = "CAST(lead_ms - ts_ms AS DOUBLE)"
    return f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(lead_ms - ts_ms) AS BIGINT) AS span_ms,
           (CAST(floor((sum(vq * {dt}) / sum({dt})) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(1000000 AS DOUBLE)) AS twa
    FROM (
        SELECT user_id,
               {"unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"} AS ts_ms,
               lead({"unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"})
                   OVER (PARTITION BY user_id ORDER BY {okey}) AS lead_ms,
               (CAST(floor((value * 1024) + 0.5) AS DOUBLE) / 1024) AS vq
        FROM events
        WHERE user_id % 20 = 0
    ) s
    WHERE lead_ms IS NOT NULL
    GROUP BY user_id
    """


@register("time_weighted_avg", oracle=_twa_sql("duckdb"))
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-weighted mean per series (the TimescaleDB `time_weight`
    aggregate, LOCF weighting): each sample is weighted by the time until
    the next sample.  One user-keyed window shuffle reused by the final
    agg.  Addends are dyadic rationals (value at 2^-10 grid x integer ms),
    so the group sums are exact in any reduction order — the summation-
    order-proofing the plain avg() lacks."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_twa_sql("spark"))


# --- time_bucket_gapfill + linear interpolation ---------------------------
def _gapfill_interp_sql(engine: str) -> str:
    """Gap-filled downsample with LINEAR interpolation (TimescaleDB's
    `interpolate()` companion to locf): missing buckets take
    prev + (next - prev) * frac, where frac is the bucket's fractional
    position between its nearest non-empty neighbors (forward neighbor =
    last_value IGNORE NULLS over the same frame in DESC order — nearest
    at-or-after the bucket).  Leading/trailing gaps (no neighbor on one
    side) stay NULL.

    Same scale shape as the LOCF variant (generated grid + one agg + one
    window per series); the interpolation needs BOTH directions, so two
    window passes (backward fill is the same window with DESC order).
    The interpolation expression is the identical IEEE tree on both
    engines over already-quantized bucket averages, then floor-rounded —
    bit-deterministic."""
    start_ms, end_ms, bucket_ms = 1704067200000, 1704153600000, 600_000
    n = (end_ms - start_ms) // bucket_ms
    q = dyadic_sql("value")
    avg6 = r_out_sql(f"avg({q})", 6)
    if engine == "spark":
        ks = f"(SELECT explode(sequence(0, {n - 1})) AS k)"
        to_ts = "timestamp_millis({ms})"
        ems = "unix_millis(ts)"
        lastv = lambda col: f"last_value({col}) IGNORE NULLS"
    else:
        ks = f"(SELECT unnest(range(0, {n})) AS k)"
        to_ts = "make_timestamp(({ms}) * 1000)"
        ems = "epoch_ms(ts)"
        lastv = lambda col: f"last_value({col} IGNORE NULLS)"
    grid_ts = to_ts.format(ms=f"{start_ms} + k * {bucket_ms}")
    actual_k = f"CAST(floor(ems / {bucket_ms}) AS BIGINT) - {start_ms // bucket_ms}"
    wb = "OVER (PARTITION BY event_type ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    wf = "OVER (PARTITION BY event_type ORDER BY k DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    interp = (
        "prev_v + (next_v - prev_v) * (CAST(k - prev_k AS DOUBLE) / CAST(next_k - prev_k AS DOUBLE))"
    )
    val6 = r_out_sql(interp, 6)
    return f"""
    WITH grid AS (
      SELECT t.event_type, kk.k, {grid_ts} AS bucket_ts
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN {ks} kk
    ), actual AS (
      SELECT event_type, {actual_k} AS k, {avg6} AS avg_v
      FROM (SELECT event_type, value, {ems} AS ems FROM events
            WHERE {ems} >= {start_ms} AND {ems} < {end_ms}) e
      GROUP BY 1, 2
    ), joined AS (
      SELECT g.event_type, g.k, g.bucket_ts, a.avg_v
      FROM grid g LEFT JOIN actual a ON a.event_type = g.event_type AND a.k = g.k
    ), fb AS (
      SELECT event_type, k, bucket_ts, avg_v,
             {lastv('avg_v')} {wb} AS prev_v,
             {lastv('CASE WHEN avg_v IS NOT NULL THEN k END')} {wb} AS prev_k,
             {lastv('avg_v')} {wf} AS next_v,
             {lastv('CASE WHEN avg_v IS NOT NULL THEN k END')} {wf} AS next_k
      FROM joined
    )
    SELECT event_type, bucket_ts,
           CASE WHEN avg_v IS NOT NULL THEN avg_v
                WHEN prev_k IS NOT NULL AND next_k IS NOT NULL AND next_k <> prev_k
                THEN {val6}
                ELSE NULL END AS value,
           (avg_v IS NULL) AS gap_filled
    FROM fb
    """


@register("time_bucket_gapfill_interp", oracle=_gapfill_interp_sql("duckdb"))
def time_bucket_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_gapfill_interp_sql("spark"))


# --- LTTB downsampling (beyond-reference; Steinarsson 2013, public) -------
def _lttb_sql(engine: str) -> str:
    """Largest-Triangle-Three-Buckets, parallel variant: the original
    algorithm anchors each bucket's selection on the PREVIOUSLY SELECTED
    point (a sequential chain); this implementation anchors on the
    previous bucket's centroid instead — the standard parallelization
    (each bucket then selects independently), trading a marginal visual
    difference for a fully distributed one-pass plan.

    Per (series, 15-min bucket): pick the point maximizing the triangle
    area between the previous bucket's centroid and the next bucket's
    centroid; first/last buckets keep their first/last sample (LTTB
    endpoint rule).  Area ranking uses floor-quantized doubles with the
    unique order key as tie-break — deterministic across engines.

    Scale shape: one centroid agg (map-side combinable), two window lag/
    leads over the tiny per-bucket stats, one broadcast-size join back to
    the points, one per-bucket top-1 window.  No all-pairs anything."""
    okey = _M4_OKEY[engine]
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    to_ts = "timestamp_millis({ms})" if engine == "spark" else "make_timestamp(({ms}) * 1000)"
    stride = 15 * 60 * 1000
    vq = "(CAST(floor((value * 1024) + 0.5) AS DOUBLE) / 1024)"
    # centroid: exact integer ts mean numerators, dyadic value sums
    area = (
        "abs((ax - cx) * (vy - ay) - (ax - bx) * (cy - ay))"
    )
    bucket_ts = to_ts.format(ms=f"b * {stride}")
    return f"""
    WITH pts AS (
      SELECT event_type, ts, value, {okey} AS okey,
             CAST(floor({ems} / {stride}) AS BIGINT) AS b,
             CAST({ems} AS DOUBLE) AS bx, {vq} AS vy
      FROM events
    ), cent AS (
      SELECT event_type, b,
             CAST(sum(CAST(bx AS BIGINT)) AS DOUBLE) / count(*) AS cx0,
             sum(vy) / count(*) AS cy0
      FROM pts GROUP BY event_type, b
    ), nbr AS (
      SELECT event_type, b,
             lag(cx0)  OVER (PARTITION BY event_type ORDER BY b) AS ax,
             lag(cy0)  OVER (PARTITION BY event_type ORDER BY b) AS ay,
             lead(cx0) OVER (PARTITION BY event_type ORDER BY b) AS cx,
             lead(cy0) OVER (PARTITION BY event_type ORDER BY b) AS cy
      FROM cent
    ), scored AS (
      SELECT p.event_type, p.b, p.ts, p.value, p.okey,
             CASE WHEN n.ax IS NULL THEN NULL
                  WHEN n.cx IS NULL THEN NULL
                  ELSE floor({area} * 1048576.0 + 0.5) END AS area_q,
             (n.ax IS NULL) AS is_first_bucket,
             (n.cx IS NULL) AS is_last_bucket
      FROM pts p JOIN nbr n ON n.event_type = p.event_type AND n.b = p.b
    ), ranked AS (
      SELECT event_type, b, ts, value,
             row_number() OVER (
               PARTITION BY event_type, b
               ORDER BY CASE WHEN is_first_bucket THEN -okey
                             WHEN is_last_bucket THEN okey
                             ELSE area_q END DESC,
                        okey
             ) AS rn
      FROM scored
    )
    SELECT event_type, {to_ts.format(ms=f"b * {stride}")} AS bucket_ts, ts, value
    FROM ranked WHERE rn = 1
    """


@register("lttb_downsample", oracle=_lttb_sql("duckdb"))
def lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_lttb_sql("spark"))


# --- funnel analysis (beyond-reference; product-analytics surface) --------
def _funnel_sql(engine: str) -> str:
    """Ordered funnel conversion over the events stream: users who did
    view → click → purchase IN ORDER (each later step strictly after the
    user's earliest qualifying earlier step).  The standard product-
    analytics query (ClickHouse windowFunnel / Amplitude funnels — public
    surface), expressed as three cascaded min-aggregations.

    Scale shape: each stage is one equi-join on user_id + a min agg — all
    shuffles share the user_id key, so a pre-bucketed events table makes
    every stage co-located (operators/bucketing.py); no window over the
    full event stream is needed.  All-integer outputs."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    return f"""
    WITH e AS (
      SELECT user_id, event_type, {ems} AS ems FROM events
    ), s1 AS (
      SELECT user_id, min(ems) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ems) AS t2
      FROM e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ems > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ems) AS t3
      FROM e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ems > s2.t2
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_view_click_purchase
    """


@register("funnel_conversion", oracle=_funnel_sql("duckdb"))
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_funnel_sql("spark"))


# --- cohort retention (beyond-reference; product-analytics surface) -------
def _retention_sql(engine: str) -> str:
    """Daily cohort retention: cohort = a user's first active day; for day
    offsets 0..7, how many of each cohort's users were active.  One
    distinct-(user, day) projection, one min-agg for cohorts, one
    co-keyed join back — the canonical retention matrix.

    Scale shape: both aggs and the join key on user_id (one shuffle family);
    day arithmetic is integer division of epoch ms — no timezone or
    calendar functions, so the engines cannot disagree."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    return f"""
    WITH a AS (
      SELECT user_id, CAST(floor({ems} / 86400000) AS BIGINT) AS day
      FROM events GROUP BY 1, 2
    ), c AS (
      SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id
    )
    SELECT c.cohort_day, a.day - c.cohort_day AS offset_days,
           CAST(count(*) AS BIGINT) AS n_active
    FROM a JOIN c ON a.user_id = c.user_id
    WHERE a.day - c.cohort_day <= 7
    GROUP BY c.cohort_day, a.day - c.cohort_day
    """


@register("retention_cohorts", oracle=_retention_sql("duckdb"))
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_retention_sql("spark"))


# --- absent_over_time (PromQL absence detection on the aligned grid) ------
def _absent_sql(engine: str) -> str:
    """Per-series absent_over_time: emit value 1 for every aligned step
    whose lookback window contains NO sample of the series — the alerting
    primitive for dead exporters (Prometheus absent_over_time, applied
    per series like the rest of the align family).  The input is thinned
    to a sparse user slice so absence actually occurs in the gated data.

    Scale shape: the step grid is GENERATED (series x steps rows, never a
    scan), presence is one aggregated projection of the sample stream,
    and absence is a broadcast-size anti-join — no window functions at
    all.  Integer outputs only."""
    start_ms, end_ms, step_ms, lookback_ms = (
        1704067200000,
        1704412800000,  # 4 days of hourly steps
        3_600_000,
        7_200_000,
    )
    n = (end_ms - start_ms) // step_ms
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    if engine == "spark":
        ks = f"(SELECT explode(sequence(0, {n})) AS k)"
        to_ts = "timestamp_millis({ms})"
    else:
        ks = f"(SELECT unnest(range(0, {n + 1})) AS k)"
        to_ts = "make_timestamp(({ms}) * 1000)"
    return f"""
    WITH src AS (
      SELECT event_type, {ems} AS ems FROM events
      WHERE user_id % 41 = 0
        AND {ems} >= {start_ms - lookback_ms} AND {ems} <= {end_ms}
    ), grid AS (
      SELECT s.event_type, ({start_ms} + kk.k * {step_ms}) AS t
      FROM (SELECT DISTINCT event_type FROM src) s
      CROSS JOIN {ks} kk
    ), present AS (
      SELECT DISTINCT g.event_type, g.t
      FROM grid g JOIN src e
        ON e.event_type = g.event_type
       AND e.ems <= g.t AND e.ems >= g.t - {lookback_ms}
    )
    SELECT g.event_type,
           {to_ts.format(ms="g.t")} AS ts,
           CAST(1 AS BIGINT) AS value
    FROM grid g
    LEFT JOIN present p ON p.event_type = g.event_type AND p.t = g.t
    WHERE p.t IS NULL
    """


@register("promql_absent_over_time", oracle=_absent_sql("duckdb"))
def promql_absent_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_absent_sql("spark"))


# --- holt_winters (double exponential smoothing per bucket) ---------------
_HW_SF, _HW_TF = 0.5, 0.25  # dyadic smoothing/trend factors (exact doubles)


def _hw_step(s: str, b: str, v: str) -> str:
    """ONE smoothing step (Prometheus holtWinters loop body) as a shared
    expression pair — rendered identically into the Spark fold lambda and
    the DuckDB recursive-CTE step, so the sequential arithmetic tree is
    bit-identical across the two structurally different evaluators."""
    s_new = f"({_HW_SF} * {v} + {1 - _HW_SF} * ({s} + {b}))"
    b_new = f"({_HW_TF} * ({s_new} - {s}) + {1 - _HW_TF} * {b})"
    return s_new, b_new


def _hw_sql(engine: str) -> str:
    """Per-(series, 6h bucket) Holt-Winters smoothed level (Prometheus
    holt_winters / double exponential smoothing — a SEQUENTIAL recurrence
    over the time-ordered window samples).

    The Spark side runs the recurrence as a higher-order fold over the
    sorted (okey, value) array — sequential-in-the-lambda, parallel
    across buckets, no Python.  The DuckDB oracle runs the SAME step
    expression through a recursive CTE — a structurally independent
    evaluator, so agreement is strong evidence the recurrence (not just
    the rendering) is right.  Window arrays are bounded by samples-per-
    bucket; state is two doubles.  Buckets need >= 2 samples."""
    okey = _M4_OKEY[engine]
    stride = 6 * 60 * 60 * 1000
    vq = "(CAST(floor((value * 1024) + 0.5) AS DOUBLE) / 1024)"
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    to_ts = "timestamp_millis({ms})" if engine == "spark" else "make_timestamp(({ms}) * 1000)"
    bucket_ts = to_ts.format(ms=f"b * {stride}")
    r6 = lambda e: r_out_sql(e, 6)
    if engine == "spark":
        vals = (
            "transform(sort_array(collect_list(struct(okey, vq))), x -> x.vq)"
        )
        s_new, b_new = _hw_step("acc.s", "acc.b", "v")
        fold = (
            f"aggregate(slice(vals, 3, size(vals) - 2), "
            f"named_struct('s', CAST({_HW_SF} * element_at(vals, 2) + {1 - _HW_SF} * "
            f"(element_at(vals, 1) + (element_at(vals, 2) - element_at(vals, 1))) AS DOUBLE), "
            f"'b', CAST({_HW_TF} * (({_HW_SF} * element_at(vals, 2) + {1 - _HW_SF} * "
            f"(element_at(vals, 1) + (element_at(vals, 2) - element_at(vals, 1)))) - element_at(vals, 1)) "
            f"+ {1 - _HW_TF} * (element_at(vals, 2) - element_at(vals, 1)) AS DOUBLE)), "
            f"(acc, v) -> named_struct('s', CAST({s_new} AS DOUBLE), 'b', CAST({b_new} AS DOUBLE)), "
            f"acc -> acc.s)"
        )
        return f"""
    WITH pts AS (
      SELECT event_type,
             CAST(floor({ems} / {stride}) AS BIGINT) AS b,
             {okey} AS okey, {vq} AS vq
      FROM events
    ), grouped AS (
      SELECT event_type, b, {vals} AS vals
      FROM pts GROUP BY event_type, b
    )
    SELECT event_type, {bucket_ts} AS bucket_ts,
           CAST(size(vals) AS BIGINT) AS n,
           {r6(fold)} AS smoothed
    FROM grouped WHERE size(vals) >= 2
    """
    # DuckDB: recursive CTE evaluator over the same sorted arrays.  The
    # first loop iteration (i = 2, 1-based) is folded into the seed so the
    # recursion starts from the SAME state as the Spark fold's init.
    s_new, b_new = _hw_step("r.s", "r.bb", "g.vals[r.i + 1]")
    seed_s, seed_b = _hw_step("vals[1]", "(vals[2] - vals[1])", "vals[2]")
    return f"""
    WITH RECURSIVE pts AS (
      SELECT event_type,
             CAST(floor({ems} / {stride}) AS BIGINT) AS b,
             {okey} AS okey, {vq} AS vq
      FROM events
    ), grouped AS (
      SELECT event_type, b,
             list_transform(list_sort(list({{'k': okey, 'v': vq}})), x -> x.v) AS vals
      FROM pts GROUP BY event_type, b
    ), r(event_type, b, i, s, bb) AS (
      SELECT grouped.event_type, grouped.b, 2,
             CAST({seed_s} AS DOUBLE), CAST({seed_b} AS DOUBLE)
      FROM grouped WHERE len(vals) >= 2
      UNION ALL
      SELECT r.event_type, r.b, r.i + 1,
             CAST({s_new} AS DOUBLE),
             CAST({b_new} AS DOUBLE)
      FROM r JOIN grouped g ON g.event_type = r.event_type AND g.b = r.b
      WHERE r.i < len(g.vals)
    )
    SELECT g.event_type AS event_type, {bucket_ts.replace('b *', 'g.b *')} AS bucket_ts,
           CAST(len(g.vals) AS BIGINT) AS n,
           {r6('r.s')} AS smoothed
    FROM grouped g JOIN r ON r.event_type = g.event_type AND r.b = g.b AND r.i = len(g.vals)
    """


@register("holt_winters_smooth", oracle=_hw_sql("duckdb"))
def holt_winters_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_hw_sql("spark"))


# --- per-series z-score anomaly detection ---------------------------------
def _zscore_sql(engine: str) -> str:
    """Per-series z-score anomaly flags: each sample scored against its
    series' global mean/stddev, computed from exact integer-quantized
    moments (the engine-native stddev is reduction-order-sensitive — same
    determinism argument as stats_corr_regr).  Emits only the anomalies.

    Scale shape: one partial→final moment agg per series (5 tiny rows),
    broadcast back onto the stream — scoring is map-side, so anomaly
    detection runs at scan speed; no window functions, no second shuffle
    of the raw stream."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    vq = "(CAST(floor((value * 1024) + 0.5) AS DOUBLE) / 1024)"
    r6 = lambda e: r_out_sql(e, 6)
    mean = "(m.sum_v / m.n)"
    var = f"greatest(m.sum_v2 / m.n - {mean} * {mean}, 0.0)"
    z = f"((e.vq - {mean}) / sqrt({var}))"
    return f"""
    WITH q AS (
      SELECT event_type, event_id, {ems} AS ems, {vq} AS vq FROM events
    ), m AS (
      SELECT event_type, count(*) AS n,
             sum(vq) AS sum_v,
             sum(vq * vq) AS sum_v2
      FROM q GROUP BY event_type
    )
    SELECT e.event_type, e.event_id,
           {r6('e.vq')} AS value,
           {r6(z)} AS zscore
    FROM q e JOIN m ON m.event_type = e.event_type
    WHERE {var} > 0 AND abs({z}) > 3.0
    """


@register("anomaly_zscore", oracle=_zscore_sql("duckdb"))
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_zscore_sql("spark"))


# Nearest-in-time join: purchases pick up the CLOSEST signup within 2h,
# before or after (as-of is "latest known state"; nearest is "closest
# observation" — the sensor/label alignment join).  The oracle is the
# generic candidates-and-rank SQL over a tolerance range join, proving
# the single-pass two-frame window composition (operators/temporal.py
# nearest_join: one shuffle, no range join) computes the same semantics.
_NEAREST_TOL_MS = 2 * 3600 * 1000


@register(
    "nearest_join_events",
    oracle=f"""
    WITH ev AS (SELECT user_id, epoch_ms(ts) AS t, event_type, value FROM events),
         l AS (SELECT user_id, t AS purchase_t, max(value) AS purchase_value
               FROM ev WHERE event_type = 'purchase' GROUP BY user_id, t),
         r AS (SELECT user_id, t AS signup_t, max(value) AS signup_value
               FROM ev WHERE event_type = 'signup' GROUP BY user_id, t),
         cand AS (
           SELECT l.user_id, l.purchase_t, l.purchase_value,
                  r.signup_t, r.signup_value,
                  abs(r.signup_t - l.purchase_t) AS adt,
                  row_number() OVER (
                    PARTITION BY l.user_id, l.purchase_t
                    ORDER BY abs(r.signup_t - l.purchase_t),
                             CASE WHEN r.signup_t <= l.purchase_t THEN 0 ELSE 1 END,
                             r.signup_t) AS rn
           FROM l JOIN r ON r.user_id = l.user_id
                        AND abs(r.signup_t - l.purchase_t) <= {_NEAREST_TOL_MS}
         )
    SELECT l.user_id, l.purchase_t, l.purchase_value, c.signup_t, c.signup_value
    FROM l LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      ON c.user_id = l.user_id AND c.purchase_t = l.purchase_t
    """,
)
def nearest_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incubator_horaedb_spark.operators.temporal import nearest_join

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("t"), "event_type", "value"
    )
    left = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("t").alias("purchase_t"))
        .agg(F.max("value").alias("purchase_value"))
    )
    right = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", F.col("t").alias("signup_t"))
        .agg(F.max("value").alias("signup_value"))
    )
    return nearest_join(
        left, right, on=["user_id"], left_ts="purchase_t", right_ts="signup_t",
        tolerance_ms=_NEAREST_TOL_MS, suffix="",
    )


# --- seasonal profile (day-of-week × hour) --------------------------------
def _seasonal_sql(engine: str) -> str:
    """Per-(series, day-of-week, hour-of-day) mean/count — the seasonality
    heatmap every TSDB dashboard draws (and the baseline table seasonal
    anomaly detection subtracts).  Day-of-week is computed from epoch
    arithmetic, NOT the engines' dow()/dayofweek() builtins — Spark counts
    Sunday=1..7 while DuckDB counts Sunday=0..6, so the portable form is
    ((epoch_day + 3) mod 7) with 0=Monday (1970-01-01 was a Thursday).
    One scan, one (series × 7 × 24)-row hash agg; runs at scan speed at
    any scale."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    day_ms = 86_400_000
    # INTEGER division — `/` on BIGINTs is float division on DuckDB (and
    # double on Spark), and the engines' float→int CASTs disagree
    # (truncate vs round), so the portable form is the engines' own
    # integer-division operators
    div = "DIV" if engine == "spark" else "//"
    dow = f"CAST(((({ems}) {div} {day_ms}) + 3) % 7 AS BIGINT)"
    hour = f"CAST((({ems}) % {day_ms}) {div} 3600000 AS BIGINT)"
    r4 = (
        lambda e: f"(CAST(floor(({e}) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" AS DOUBLE) / CAST(10000 AS DOUBLE))"
    )
    vq = "(CAST(floor((value * 1048576) + 0.5) AS DOUBLE) / 1048576)"
    return f"""
    SELECT event_type,
           {dow} AS dow,
           {hour} AS hour,
           count(*) AS n,
           {r4(f'avg({vq})')} AS mean_value
    FROM events
    GROUP BY event_type, {dow}, {hour}
    """


@register("seasonal_profile", oracle=_seasonal_sql("duckdb"))
def seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_seasonal_sql("spark"))


seasonal_profile.__doc__ = _seasonal_sql.__doc__


# --- robust MAD anomaly detection -----------------------------------------
def _mad_sql(engine: str) -> str:
    """Median-absolute-deviation anomaly flags — the robust twin of
    anomaly_zscore: median and MAD are outlier-resistant where mean/sigma
    are dragged by the very anomalies being hunted (Hampel identifier;
    0.6745·dev/MAD ≈ z under normality).  Medians are explicit rank
    interpolation over quantized values with (value, event_id) total
    order — engine median() builtins interpolate differently.  Shape:
    two rank-window passes per series + a tiny per-series table joined
    back; emits only flagged rows."""
    vq = "(CAST(floor((value * 1024) + 0.5) AS DOUBLE) / 1024)"
    r6 = lambda e: r_out_sql(e, 6)
    # rank midpoints via INTEGER division — (n+1)/2 on DuckDB is float
    # division whose CAST rounds (Spark's truncates), shifting the median
    # rank by one on even-sized series
    div = "DIV" if engine == "spark" else "//"

    def med(src, val, part):
        return f"""SELECT {part}, (min(CASE WHEN rn = lo THEN {val} END)
             + min(CASE WHEN rn = hi THEN {val} END)) / 2.0 AS med
      FROM (
        SELECT {part}, {val},
               row_number() OVER (PARTITION BY {part} ORDER BY {val}, event_id) AS rn,
               (count(*) OVER (PARTITION BY {part}) + 1) {div} 2 AS lo,
               (count(*) OVER (PARTITION BY {part}) + 2) {div} 2 AS hi
        FROM {src}
      ) r GROUP BY {part}"""
    return f"""
    WITH q AS (
      SELECT event_type, event_id, {vq} AS vq FROM events
    ),
    m1 AS ({med('q', 'vq', 'event_type')}),
    dev AS (
      SELECT q.event_type, q.event_id, q.vq, abs(q.vq - m1.med) AS adev, m1.med
      FROM q JOIN m1 ON m1.event_type = q.event_type
    ),
    m2 AS ({med('dev', 'adev', 'event_type')})
    SELECT d.event_type, d.event_id,
           {r6('d.vq')} AS value,
           {r6('d.med')} AS series_median,
           {r6('m2.med')} AS mad
    FROM dev d JOIN m2 ON m2.event_type = d.event_type
    WHERE m2.med > 0 AND d.adev > 6.0 * m2.med
    """


@register("anomaly_mad", oracle=_mad_sql("duckdb"))
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mad_sql("spark"))


anomaly_mad.__doc__ = _mad_sql.__doc__


# --- Gorilla delta-of-delta timestamp compression estimate ----------------
def _dod_sql(engine: str) -> str:
    """Per-series Gorilla timestamp-compression estimate (Pelkonen et al.
    VLDB 2015 §4.1; the same family as the reference's SST timestamp
    encoding): bits to store each delta-of-delta under the paper's bucket
    ladder (0→1 bit; [-63,64]→9; [-255,256]→12; [-2047,2048]→16;
    else→36).  The ingest-planning query: expected bytes/sample per
    series BEFORE writing.  All-integer window math, one sort per series,
    4-row output."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    r4 = (
        lambda e: f"(CAST(floor(({e}) * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" AS DOUBLE) / CAST(10000 AS DOUBLE))"
    )
    bits = """CASE WHEN dod = 0 THEN 1
              WHEN dod >= -63 AND dod <= 64 THEN 9
              WHEN dod >= -255 AND dod <= 256 THEN 12
              WHEN dod >= -2047 AND dod <= 2048 THEN 16
              ELSE 36 END"""
    return f"""
    WITH s AS (
      SELECT event_type, {ems} AS t, event_id,
             ({ems}) - lag({ems}) OVER w AS d
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY {ems}, event_id)
    ),
    dd AS (
      SELECT event_type,
             (d - lag(d) OVER (PARTITION BY event_type ORDER BY t, event_id)) AS dod
      FROM s WHERE d IS NOT NULL
    )
    SELECT event_type,
           count(dod) AS n_samples,
           CAST(sum(CAST({bits} AS BIGINT)) AS BIGINT) AS total_bits,
           {r4(f'avg(CAST({bits} AS DOUBLE))')} AS avg_bits_per_sample
    FROM dd WHERE dod IS NOT NULL
    GROUP BY event_type
    """


@register("tsz_dod_compression", oracle=_dod_sql("duckdb"))
def tsz_dod_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_dod_sql("spark"))


tsz_dod_compression.__doc__ = _dod_sql.__doc__


# --- user activity distribution (p50/p90/p99) -----------------------------
def _activity_pct_sql(engine: str) -> str:
    """Events-per-user p50/p90/p99 — the product-analytics activity
    distribution (and the skew probe that decides salting: a p99/p50
    ratio in the hundreds means hot keys).  Explicit rank interpolation
    over per-user counts (engine percentile builtins interpolate
    differently); per-user counts are exact integers, so only the final
    interpolation touches doubles.  Rank positions are computed as
    per-row columns BEFORE the final aggregate (Spark rejects nested
    aggregates like min(CASE WHEN rn = f(max(n)) ...)).  Shape: one
    user-keyed count agg, one rank window over U rows (users, not
    events), 1-row output."""

    def pos_cols(phi: str, tag: str) -> str:
        rk = f"({phi} * (CAST(n_users AS DOUBLE) - 1.0) + 1.0)"
        return (
            f"CAST(floor({rk}) AS BIGINT) AS lo{tag}, "
            f"({rk} - floor({rk})) AS f{tag}"
        )

    def q(tag: str, name: str) -> str:
        lo = f"CAST(min(CASE WHEN rn = lo{tag} THEN cnt END) AS DOUBLE)"
        hi = f"CAST(min(CASE WHEN rn = lo{tag} + 1 THEN cnt END) AS DOUBLE)"
        v = (
            f"({lo} + CASE WHEN max(f{tag}) = 0.0 THEN 0.0 "
            f"ELSE max(f{tag}) * ({hi} - {lo}) END)"
        )
        return (
            f"(CAST(floor(({v}) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
            f" / CAST(100 AS DOUBLE)) AS {name}"
        )

    return f"""
    WITH per_user AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt, user_id) AS rn,
             count(*) OVER () AS n_users
      FROM per_user
    ),
    pos AS (
      SELECT cnt, rn, n_users,
             {pos_cols('0.5', '50')},
             {pos_cols('0.9', '90')},
             {pos_cols('0.99', '99')}
      FROM ranked
    )
    SELECT CAST(max(n_users) AS BIGINT) AS n_users,
           {q('50', 'p50')},
           {q('90', 'p90')},
           {q('99', 'p99')}
    FROM pos
    """


@register("user_activity_percentiles", oracle=_activity_pct_sql("duckdb"))
def user_activity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolated p50/p90/p99 of per-user event counts (see
    _activity_pct_sql) — Spark side on the two-pass rank (r9, VERDICT
    r08 #5): the oracle ranks ALL users in one window task; here the
    global row_number comes from operators/rank2pass.py, the percentile
    POSITIONS are computed on the driver from the exact user count (the
    same IEEE expression tree DuckDB evaluates per-row), and only the
    ≤6 rank-adjacent rows are aggregated — the user set is never
    single-task sorted."""
    import math

    from incubator_horaedb_spark.operators.rank2pass import attach_global_order

    per_user = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked, totals = attach_global_order(
        per_user, [F.col("cnt").asc(), F.col("user_id").asc()], rank_name="rn"
    )
    n = totals["n"]

    def pos(phi: float) -> tuple[int, float]:
        # identical IEEE ops to the oracle's phi*(CAST(n AS DOUBLE)-1.0)+1.0
        rk = phi * (float(n) - 1.0) + 1.0
        lo = math.floor(rk)
        return int(lo), rk - lo

    ps = {"50": pos(0.5), "90": pos(0.9), "99": pos(0.99)}
    needed = sorted({r for lo, _ in ps.values() for r in (lo, lo + 1)})
    picked = ranked.filter(F.col("rn").isin(needed))

    def q(tag: str):
        lo, f = ps[tag]
        lov = F.min(F.when(F.col("rn") == lo, F.col("cnt"))).cast("double")
        if f == 0.0:
            v = lov
        else:
            hiv = F.min(F.when(F.col("rn") == lo + 1, F.col("cnt"))).cast("double")
            v = lov + F.lit(f) * (hiv - lov)
        return (
            F.floor(v * F.lit(100.0) + F.lit(0.5)).cast("double") / F.lit(100.0)
        ).alias(f"p{tag}")

    return picked.agg(
        F.min(F.lit(int(n))).cast("long").alias("n_users"), q("50"), q("90"), q("99")
    )


# --- time-to-conversion cohort latency ------------------------------------
def _ttc_sql(engine: str) -> str:
    """Signup→first-purchase latency distribution in day buckets — the
    conversion-latency cohort report (funnel_conversion's "did they" twin
    answers "how fast").  Per user: first signup ts, first purchase AT OR
    AFTER it (min-over-filtered — no window, no join explosion), then a
    day-bucket histogram; never-converted users land in bucket -1.  Two
    user-keyed aggs + one tiny histogram agg."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    div = "DIV" if engine == "spark" else "//"
    day_ms = 86_400_000
    return f"""
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN {ems} END) AS signup_t,
             min(CASE WHEN event_type = 'purchase' THEN {ems} END) AS any_purchase_t
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id, min({ems}) AS first_purchase_t
      FROM events e JOIN u ON u.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND {ems} >= u.signup_t
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT u.user_id,
             CASE WHEN u.signup_t IS NULL THEN NULL
                  WHEN c.first_purchase_t IS NULL THEN -1
                  ELSE (c.first_purchase_t - u.signup_t) {div} {day_ms}
             END AS day_bucket
      FROM u LEFT JOIN conv c ON c.user_id = u.user_id
      WHERE u.signup_t IS NOT NULL
    )
    SELECT CAST(day_bucket AS BIGINT) AS days_to_convert,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(user_id) AS BIGINT) AS min_user_id
    FROM lat
    GROUP BY day_bucket
    """


@register("time_to_conversion", oracle=_ttc_sql("duckdb"))
def time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ttc_sql("spark"))


time_to_conversion.__doc__ = _ttc_sql.__doc__


# --- event transition matrix (behavior paths) -----------------------------
def _transition_sql(engine: str) -> str:
    """Per-user event-type transition counts — the first-order Markov
    matrix behind user-path analysis (which step follows which; funnel
    discovery, as opposed to funnel_conversion's fixed-order check).
    One lag window per user over (ts, event_id), then a (from, to) hash
    agg with transition share within each source state.  Shape: one
    user-keyed shuffle, |types|² output rows."""
    return """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type,
           CAST(n AS BIGINT) AS n,
           (CAST(floor((CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)
            / CAST(1000000 AS DOUBLE)) AS p_transition
    FROM t
    """


@register("event_transition_matrix", oracle=_transition_sql("duckdb"))
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_transition_sql("spark"))


event_transition_matrix.__doc__ = _transition_sql.__doc__


# --- time-series gap report -------------------------------------------------
def _gap_sql(engine: str) -> str:
    """Per-series ingestion-gap audit: every inter-sample gap above a
    threshold (15 min), with its bounds — the data-quality query run
    before trusting any downsample/rate result (a gap that spans a window
    silently deflates rates; the reference's TSDB model assumes dense
    series per tsid).  One LAG window keyed by series — a single shuffle,
    and the (t, event_id) tie-break makes equal-timestamp rows
    order-stable on both engines.  At scale: linear, no joins."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    return f"""
    SELECT event_type,
           CAST(prev_t AS BIGINT) AS gap_start_ms,
           CAST(t AS BIGINT)      AS gap_end_ms,
           CAST(t - prev_t AS BIGINT) AS gap_ms
    FROM (
      SELECT event_type, {ems} AS t,
             lag({ems}) OVER (PARTITION BY event_type ORDER BY {ems}, event_id)
               AS prev_t
      FROM events
    ) g
    WHERE prev_t IS NOT NULL AND t - prev_t > 900000
    """


@register("ts_gap_report", oracle=_gap_sql("duckdb"))
def ts_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_gap_sql("spark"))


ts_gap_report.__doc__ = _gap_sql.__doc__


# --- CUSUM change-point detection -------------------------------------------
def _cusum_sql(engine: str) -> str:
    """CUSUM change-point detection per series (Page 1954): daily bucket
    means, deviations from the series mean, running cumulative sum; the
    |S|-extreme bucket is the estimated change point.  Determinism: every
    addend that enters an order-free aggregate or a windowed running sum
    is DYADIC-quantized first (2^-10 values, 2^-20 means/deviations), so
    sums are exact integers-over-a-power-of-two in any association order
    — DuckDB's segment-tree window aggregation and Spark's streaming
    frame evaluation then agree bit-for-bit (functions/detfloat.py
    rationale).  Shape: two tiny hash aggs + one per-series window over
    (series × days) rows — nothing scales with raw row count past the
    first agg."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    div = "DIV" if engine == "spark" else "//"
    vq = "(CAST(floor((value * 1024) + 0.5) AS DOUBLE) / 1024)"
    q20 = lambda e: dyadic_sql(e, 20)
    r6 = lambda e: r_out_sql(e, 6)
    return f"""
    WITH q AS (
      SELECT event_type, (({ems}) {div} 86400000) AS day, {vq} AS v FROM events
    ),
    b AS (
      SELECT event_type, day, {q20('avg(v)')} AS m
      FROM q GROUP BY event_type, day
    ),
    g AS (
      SELECT event_type, {q20('avg(m)')} AS mu FROM b GROUP BY event_type
    ),
    d AS (
      SELECT b.event_type, b.day, {q20('b.m - g.mu')} AS dev
      FROM b JOIN g ON g.event_type = b.event_type
    ),
    c AS (
      SELECT event_type, day,
             sum(dev) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM d
    ),
    r AS (
      SELECT event_type, day, s,
             row_number() OVER (PARTITION BY event_type ORDER BY abs(s) DESC, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM c
    )
    SELECT event_type,
           CAST(day AS BIGINT) AS change_day,
           {r6('s')} AS cusum_extreme,
           CAST(n_days AS BIGINT) AS n_days
    FROM r WHERE rn = 1
    """


@register("changepoint_cusum", oracle=_cusum_sql("duckdb"))
def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cusum_sql("spark"))


changepoint_cusum.__doc__ = _cusum_sql.__doc__


# --- top-k session event paths ----------------------------------------------
def _path_topk_sql(engine: str) -> str:
    """Top-k opening event paths: sessionize (30-min gap), take each
    session's first three events in (t, event_id) order, count identical
    paths, keep the k most common — the product-analytics "what do users
    do first" query (the path-mining sibling of funnel_conversion /
    event_transition_matrix).  All three window passes share the user
    key, so Spark plans ONE shuffle and reuses the partitioning; the
    final count is |distinct paths| rows.  Ranking ties break on the
    path string — total order on both engines."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    return f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, {ems} AS t FROM events
    ),
    g AS (
      SELECT user_id, event_id, event_type, t,
             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
                    OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                       > 1800000
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    s AS (
      SELECT user_id, event_id, event_type, t,
             sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM g
    ),
    r AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY t, event_id) AS rn
      FROM s
    ),
    p AS (
      SELECT user_id, session_id,
             min(CASE WHEN rn = 1 THEN event_type END) AS e1,
             min(CASE WHEN rn = 2 THEN event_type END) AS e2,
             min(CASE WHEN rn = 3 THEN event_type END) AS e3
      FROM r WHERE rn <= 3
      GROUP BY user_id, session_id
      HAVING count(*) >= 3
    ),
    pc AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n_sessions
      FROM p GROUP BY e1 || '>' || e2 || '>' || e3
    )
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rnk
    FROM pc
    ORDER BY rnk
    LIMIT 15
    """


@register("event_path_topk", oracle=_path_topk_sql("duckdb"))
def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_path_topk_sql("spark"))


event_path_topk.__doc__ = (_path_topk_sql.__doc__ or "") + """

    Scale note (r9, VERDICT r08 #5): the final row_number window here IS
    global, but it ranks the PATH CENSUS — at most |event-type alphabet|³
    rows regardless of data size (5 types → ≤125 rows at any SF), unlike
    the entity rankings (pareto/rfm/percentiles) that now ride the
    two-pass rank.  A single-task sort over an alphabet-bounded census is
    the correct plan at 100 TB; rewriting it would add an exchange for
    nothing."""


# --- per-series autocorrelation ---------------------------------------------
def _acf_sql(engine: str) -> str:
    """Autocorrelation (ACF) per series at lags 1h and 24h over hourly
    bucket means — the seasonality detector run before choosing a
    forecast model (a 24h spike means daily seasonality; the Box-Jenkins
    identification step).  Biased estimator r_L = Σ dev_t·dev_{t+L} /
    Σ dev_t² — the standard ACF normalization (denominator over ALL
    buckets), so |r| <= 1.

    Determinism: bucket means, the series mean, deviations AND each
    lag-product are dyadic-quantized (2^-10 values, 2^-20 aggregates) so
    every sum is exact in any aggregation/association order; the final
    ratio is one IEEE division of bit-identical operands, rounded with
    the floor form.  Shape: one raw-scan hash agg, then self-joins over
    (series × hours) rows only — nothing downstream scales with raw row
    count."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    div = "DIV" if engine == "spark" else "//"
    vq = "(CAST(floor((value * 1024) + 0.5) AS DOUBLE) / 1024)"
    q20 = lambda e: dyadic_sql(e, 20)
    r6 = lambda e: r_out_sql(e, 6)
    num = lambda lag: f"""SELECT a.event_type, {lag} AS lag,
             sum({q20('a.dev * b.dev')}) AS num, count(*) AS n_pairs
      FROM d a JOIN d b ON b.event_type = a.event_type AND b.hb = a.hb + {lag}
      GROUP BY a.event_type"""
    return f"""
    WITH q AS (
      SELECT event_type, (({ems}) {div} 3600000) AS hb, {vq} AS v FROM events
    ),
    b AS (
      SELECT event_type, hb, {q20('avg(v)')} AS m FROM q GROUP BY event_type, hb
    ),
    g AS (
      SELECT event_type, {q20('avg(m)')} AS mu FROM b GROUP BY event_type
    ),
    d AS (
      SELECT b.event_type, b.hb, {q20('b.m - g.mu')} AS dev
      FROM b JOIN g ON g.event_type = b.event_type
    ),
    den AS (
      SELECT event_type, sum({q20('dev * dev')}) AS den FROM d GROUP BY event_type
    ),
    nums AS (
      {num(1)}
      UNION ALL
      {num(24)}
    )
    SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag,
           {r6('n.num / den.den')} AS acf,
           CAST(n.n_pairs AS BIGINT) AS n_pairs
    FROM nums n JOIN den ON den.event_type = n.event_type
    WHERE den.den > 0
    """


@register("ts_autocorrelation", oracle=_acf_sql("duckdb"))
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_acf_sql("spark"))


ts_autocorrelation.__doc__ = _acf_sql.__doc__


# --- lagged cross-correlation between two series -----------------------------
def _xcorr_sql(engine: str) -> str:
    """Lagged cross-correlation of two metric series (error vs click
    hourly volumes) at lags -3h..+3h — the lead/lag diagnostic run
    before blaming one metric for another (a peak at +2 means errors
    LEAD clicks by two hours).  Pearson correlation per lag from exact
    integer moments over bucket COUNTS: every sum (n, Σx, Σy, Σx²,
    Σxy, Σy²) is integer arithmetic, so the closed-form corr is one
    identical IEEE expression on both engines (stats_corr_regr's
    recipe applied per lag).

    Shape: one raw-scan hash agg to hourly buckets (O(hours) rows out),
    a 7-row lag list CROSS-joined to the x series, then an equi-join on
    the shifted bucket id — nothing downstream of the first agg scales
    with raw row count.  Zero-variance lags pin corr to NULL via CASE
    on both engines."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    div = "DIV" if engine == "spark" else "//"
    r6 = lambda e: r_out_sql(e, 6)
    lag_rows = " UNION ALL ".join(f"SELECT {k} AS lag" for k in range(-3, 4))
    n, sx, sy, sxx, sxy, syy = (
        f"CAST({c} AS DOUBLE)" for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
    )
    cov_n = f"({n} * {sxy} - {sx} * {sy})"
    var_x = f"({n} * {sxx} - {sx} * {sx})"
    var_y = f"({n} * {syy} - {sy} * {sy})"
    return f"""
    WITH e AS (
      SELECT event_type, (({ems}) {div} 3600000) AS hb FROM events
      WHERE event_type IN ('error', 'click')
    ),
    x AS (SELECT hb, count(*) AS xv FROM e WHERE event_type = 'error' GROUP BY hb),
    y AS (SELECT hb, count(*) AS yv FROM e WHERE event_type = 'click' GROUP BY hb),
    lags AS ({lag_rows}),
    p AS (
      SELECT l.lag, x.xv, y.yv
      FROM lags l CROSS JOIN x
      JOIN y ON y.hb = x.hb + l.lag
    ),
    m AS (
      SELECT lag, count(*) AS n,
             sum(xv) AS sx, sum(yv) AS sy,
             sum(xv * xv) AS sxx, sum(xv * yv) AS sxy, sum(yv * yv) AS syy
      FROM p GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN {var_x} > 0 AND {var_y} > 0
                THEN {r6(f'{cov_n} / sqrt({var_x} * {var_y})')}
           END AS xcorr
    FROM m
    ORDER BY lag
    """


@register("ts_cross_correlation", oracle=_xcorr_sql("duckdb"))
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_xcorr_sql("spark"))


ts_cross_correlation.__doc__ = _xcorr_sql.__doc__


# --- Spark-native session windows (batch) ------------------------------------
_SESSION_GAP_MS = 1800000


_SESSION_WINDOW_SQL = f"""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS t FROM events
    ),
    g AS (
      SELECT user_id, t,
             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                    OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                       > {_SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    s AS (
      SELECT user_id, t,
             sum(brk) OVER (PARTITION BY user_id ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM g
    )
    SELECT user_id,
           CAST(min(t) AS BIGINT) AS session_start_ms,
           CAST(max(t) + {_SESSION_GAP_MS} AS BIGINT) AS session_end_ms,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sid
    """


@register("session_window_agg", oracle=_SESSION_WINDOW_SQL)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation in batch mode — the
    engine-level session operator (one hash agg with dynamic-gap window
    merging inside the aggregation, no analytic-window pre-pass), the
    same primitive Structured Streaming uses for stateful sessions.
    Independent-path parity: the oracle derives identical sessions from
    the classic gaps-and-islands SQL (lag + running sum), so the native
    operator's merge semantics (merge while delta <= gap, end = last
    event + gap — probed empirically) are value-checked, not assumed.

    Scale shape: ONE shuffle on user_id; session merging is per-key
    state inside the agg — no window sort pass, no join.  All-integer
    output (epoch-ms bounds + counts)."""
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("session_window.start").alias("session_start_ms"),
            F.unix_millis("session_window.end").alias("session_end_ms"),
            F.col("n_events").cast("bigint"),
        )
    )


# --- population-stability drift report ---------------------------------------
def _psi_sql(engine: str) -> str:
    """Population Stability Index per feature between the first and second
    half of the month (split at a fixed boundary) — the
    distribution-drift gate run before retraining on fresh data or
    trusting a fixed quality classifier across corpus versions (PSI >
    0.2 = action; the banking-scorecard convention, public).  Features:
    the numeric `value` in 10 fixed-width clamped bins, and the
    categorical event mix.  Laplace-smoothed shares ((n+1)/(N+B)) keep
    every ln argument finite and deterministic; each PSI term is
    floor-quantized at 2^-20 before the sum (exact addition, ~5-10
    addends), so reduction order cannot move the result.

    Scale shape: one scan, map-side bin ids, ONE partial->final hash agg
    keyed (metric, bin) — the shuffle carries at most |bins| rows per
    input partition; the PSI fold runs over |bins| rows.  The same
    template extends per-source/per-split by adding the key to both
    GROUP BYs."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    sty = "STRING" if engine == "spark" else "VARCHAR"
    mid = 1705363200000  # 2024-01-16T00:00Z
    q20 = lambda e: dyadic_sql(e, 20)
    r6 = lambda e: r_out_sql(e, 6)
    p = "((CAST(n0 AS DOUBLE) + 1.0) / (CAST(t0 AS DOUBLE) + CAST(nb AS DOUBLE)))"
    q = "((CAST(n1 AS DOUBLE) + 1.0) / (CAST(t1 AS DOUBLE) + CAST(nb AS DOUBLE)))"
    term = q20(f"({p} - {q}) * ln({p} / {q})")
    return f"""
    WITH e AS (
      SELECT event_type, value,
             CASE WHEN {ems} < {mid} THEN 0 ELSE 1 END AS half
      FROM events
    ),
    bins AS (
      SELECT 'value' AS metric,
             CAST(least(CAST(9 AS BIGINT),
                        greatest(CAST(0 AS BIGINT),
                                 CAST(floor(value / 50.0) AS BIGINT))) AS {sty}) AS bin,
             half
      FROM e
      UNION ALL
      SELECT 'event_type' AS metric, event_type AS bin, half FROM e
    ),
    c AS (
      SELECT metric, bin,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
      FROM bins GROUP BY metric, bin
    ),
    t AS (
      SELECT metric, sum(n0) AS t0, sum(n1) AS t1, count(*) AS nb
      FROM c GROUP BY metric
    )
    SELECT c.metric,
           CAST(t.nb AS BIGINT) AS n_bins,
           CAST(t.t0 AS BIGINT) AS n_before,
           CAST(t.t1 AS BIGINT) AS n_after,
           {r6(f"sum({term})")} AS psi
    FROM c JOIN t ON t.metric = c.metric
    GROUP BY c.metric, t.nb, t.t0, t.t1
    ORDER BY c.metric
    """


@register("drift_psi_report", oracle=_psi_sql("duckdb"))
def drift_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_psi_sql("spark"))


drift_psi_report.__doc__ = _psi_sql.__doc__


# --- pairwise metric correlation matrix --------------------------------------
def _corrmat_sql(engine: str) -> str:
    """Pairwise Pearson correlation matrix of hourly event volumes over
    all series pairs — the metric-similarity audit (observability UIs
    cluster dashboards with it; pipelines use it to drop redundant
    signals before modeling).  Pairwise-complete semantics: each pair
    correlates over the hours where BOTH series have samples (the inner
    join), with the hour count reported so sparse pairs are visible.

    Exact integer moments per pair (counts in, Σx/Σy/Σx²/Σxy/Σy² as
    int64), one closed-form IEEE expression out — stats_corr_regr's
    recipe applied to the |series|²/2 self-join of the bucketed table.
    Scale shape: one raw-scan hash agg to O(series × hours) rows, one
    hb-keyed self-join (each hour produces |series|² pair rows — fine
    while the series count is dashboard-sized; sample series first when
    it is not), one per-pair agg."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    div = "DIV" if engine == "spark" else "//"
    r6 = lambda e: r_out_sql(e, 6)
    n, sx, sy, sxx, sxy, syy = (
        f"CAST({c} AS DOUBLE)" for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
    )
    cov_n = f"({n} * {sxy} - {sx} * {sy})"
    var_x = f"({n} * {sxx} - {sx} * {sx})"
    var_y = f"({n} * {syy} - {sy} * {sy})"
    return f"""
    WITH b AS (
      SELECT event_type, (({ems}) {div} 3600000) AS hb, count(*) AS v
      FROM events GROUP BY event_type, (({ems}) {div} 3600000)
    ),
    p AS (
      SELECT a.event_type AS type_a, c.event_type AS type_b, a.v AS xv, c.v AS yv
      FROM b a JOIN b c ON c.hb = a.hb AND a.event_type < c.event_type
    ),
    m AS (
      SELECT type_a, type_b, count(*) AS n,
             sum(xv) AS sx, sum(yv) AS sy,
             sum(xv * xv) AS sxx, sum(xv * yv) AS sxy, sum(yv * yv) AS syy
      FROM p GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
           CASE WHEN {var_x} > 0 AND {var_y} > 0
                THEN {r6(f'{cov_n} / sqrt({var_x} * {var_y})')}
           END AS corr
    FROM m
    ORDER BY type_a, type_b
    """


@register("ts_correlation_matrix", oracle=_corrmat_sql("duckdb"))
def ts_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_corrmat_sql("spark"))


ts_correlation_matrix.__doc__ = _corrmat_sql.__doc__


# --- Gorilla XOR value-compression estimate ----------------------------------
def _xor_sql(engine: str) -> str:
    """Gorilla VALUE-compression bit-budget estimate (Pelkonen et al.,
    VLDB 2015 §4.1.2 — the XOR half; tsz_dod_compression covers the
    timestamp half): per series, XOR each quantized value with its
    predecessor; identical values cost 1 control bit, changed values
    cost control + window descriptor + the meaningful-bit span
    (highest set bit .. lowest set bit of the XOR).  The estimate
    assumes a fresh window per changed value (a stated upper bound —
    real Gorilla reuses windows), so it is conservative and exactly
    computable in integer SQL: bit positions come from hex-length
    arithmetic (4·(len−1) + nibble width of the leading digit) and
    popcounts from bit_count — both engines agree bit-for-bit.  The
    number feeds the same ingest-planning decision as the DoD estimate:
    what a TSZ codec would pay per value on THIS data.

    Shape: one series-keyed window pass (shared sort), one tiny agg."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    x = "xor(v, pv)" if engine == "duckdb" else "(v ^ pv)"
    r6 = lambda e: r_out_sql(e, 6)
    # bit length of a POSITIVE bigint from its minimal hex rendering
    bl = (
        lambda h: f"(4 * (length({h}) - 1) + CASE substr({h}, 1, 1) "
        f"WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 2 "
        f"WHEN '4' THEN 3 WHEN '5' THEN 3 WHEN '6' THEN 3 WHEN '7' THEN 3 "
        f"ELSE 4 END)"
    )
    # meaningful span = bl(x) - bl(x & -x) + 1; cost model per changed
    # value: 2 control bits + 5 leading-zero + 6 length + span
    return f"""
    WITH s AS (
      SELECT event_type,
             CAST(floor(value * 1024 + 0.5) AS BIGINT) AS v,
             {ems} AS t, event_id
      FROM events
    ),
    l AS (
      SELECT event_type, v,
             lag(v) OVER (PARTITION BY event_type ORDER BY t, event_id) AS pv
      FROM s
    ),
    xr AS (
      SELECT event_type, {x} AS xv
      FROM l WHERE pv IS NOT NULL
    ),
    b AS (
      SELECT event_type, xv,
             CASE WHEN xv = 0 THEN 0 ELSE bit_count(xv) END AS pc,
             CASE WHEN xv = 0 THEN 1
                  ELSE 13 + ({bl("upper(hex(xv))")}
                             - {bl("upper(hex((xv & -xv)))")} + 1)
             END AS bits
      FROM xr
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_deltas,
           CAST(sum(CASE WHEN xv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_xor,
           CAST(sum(pc) AS BIGINT) AS sum_popcount,
           {r6('CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)')}
               AS est_bits_per_value,
           {r6('64.0 * CAST(count(*) AS DOUBLE) / CAST(sum(bits) AS DOUBLE)')}
               AS compression_ratio
    FROM b
    GROUP BY event_type
    ORDER BY event_type
    """


@register("tsz_xor_compression", oracle=_xor_sql("duckdb"))
def tsz_xor_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_xor_sql("spark"))


tsz_xor_compression.__doc__ = _xor_sql.__doc__


# --- classical seasonal decomposition ---------------------------------------
def _seasonal_decomp_sql(engine: str) -> str:
    """Classical additive seasonal decomposition of daily volumes per
    series (trend = centered 7-day moving average over full windows,
    seasonal = day-of-week means of the detrended series normalized to
    zero mean, residual = remainder) reduced to the decomposition
    REPORT: per series, the seasonal-strength statistic
    max(0, 1 − Var(residual)/Var(detrended)) (Hyndman & Athanasopoulos,
    FPP3 §4.5, public) and the peak day-of-week — the numbers that
    decide whether a forecast model needs a weekly seasonal term
    (complementing ts_autocorrelation's lag evidence).

    Determinism: daily counts are integers; the 7-day mean divides an
    exact integer sum by 7 (identical IEEE); every derived addend is
    2^-20-quantized before the sums behind the variances (exact
    addition; products of identical doubles are identical before their
    own quantization); day-of-week from pure epoch-day arithmetic (dow
    builtins disagree across engines).  Peak ties break on dow.

    Shape: one raw-scan hash agg to (series, day) — O(series × days)
    rows out; two window passes and two tiny per-(series, dow) aggs all
    share the series key; the report is |series| rows."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    div = "DIV" if engine == "spark" else "//"
    q = lambda e: dyadic_sql(e, 20)
    r6 = lambda e: r_out_sql(e, 6)
    w7 = (
        "OVER (PARTITION BY event_type ORDER BY ed "
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
    )
    var = (
        lambda sx, sxx, n: f"((CAST({n} AS DOUBLE) * {sxx} - {sx} * {sx})"
        f" / (CAST({n} AS DOUBLE) * CAST({n} AS DOUBLE)))"
    )
    return f"""
    WITH d AS (
      SELECT event_type, (({ems}) {div} 86400000) AS ed,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, (({ems}) {div} 86400000)
    ),
    t AS (
      SELECT event_type, ed, y,
             CASE WHEN count(*) {w7} = 7
                  THEN {q(f"CAST(sum(y) {w7} AS DOUBLE) / 7.0")}
             END AS trend
      FROM d
    ),
    dt AS (
      SELECT event_type, ed, ((ed + 4) % 7) AS dow,
             {q('CAST(y AS DOUBLE) - trend')} AS dtv
      FROM t WHERE trend IS NOT NULL
    ),
    sdow AS (
      SELECT event_type, dow,
             {q(f"sum({q('dtv')}) / CAST(count(*) AS DOUBLE)")} AS m
      FROM dt GROUP BY event_type, dow
    ),
    snorm AS (
      SELECT s.event_type, s.dow,
             {q(f"s.m - g.mm")} AS seas
      FROM sdow s JOIN (
        SELECT event_type,
               {q(f"sum({q('m')}) / CAST(count(*) AS DOUBLE)")} AS mm
        FROM sdow GROUP BY event_type
      ) g ON g.event_type = s.event_type
    ),
    r AS (
      SELECT dt.event_type, dt.dtv,
             {q('dt.dtv - sn.seas')} AS res
      FROM dt JOIN snorm sn
        ON sn.event_type = dt.event_type AND sn.dow = dt.dow
    ),
    m AS (
      SELECT event_type, count(*) AS n,
             sum({q('dtv')}) AS sd, sum({q('dtv * dtv')}) AS sdd,
             sum({q('res')}) AS sr, sum({q('res * res')}) AS srr
      FROM r GROUP BY event_type
    ),
    pk AS (
      SELECT event_type, dow,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY seas DESC, dow) AS rn
      FROM snorm
    )
    SELECT m.event_type, CAST(m.n AS BIGINT) AS n_days,
           CASE WHEN {var('sd', 'sdd', 'm.n')} > 0
                THEN {r6(f"greatest(CAST(0.0 AS DOUBLE), 1.0 - {var('sr', 'srr', 'm.n')} / {var('sd', 'sdd', 'm.n')})")}
           END AS seasonal_strength,
           CAST(pk.dow AS BIGINT) AS peak_dow
    FROM m JOIN pk ON pk.event_type = m.event_type AND pk.rn = 1
    ORDER BY m.event_type
    """


@register("ts_seasonal_decompose", oracle=_seasonal_decomp_sql("duckdb"))
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_seasonal_decomp_sql("spark"))


ts_seasonal_decompose.__doc__ = _seasonal_decomp_sql.__doc__


# --- DAU / WAU stickiness ----------------------------------------------------
def _stickiness_sql(engine: str) -> str:
    """DAU/WAU stickiness per day — the product-engagement ratio (daily
    actives over trailing-7-day actives; DAU/MAU is the same template
    with 30).  Exact trailing distinct counts WITHOUT a windowed
    count-distinct (no engine supports that frame): each (user, day)
    activity contributes to the 7 target days it is visible from, via a
    7-row offset explode — the O(7x) blowup is the price of exactness
    and is data-parallel; the per-target-day distinct collapses in one
    hash agg.  Ratio of two exact integers; first 6 days are excluded
    (incomplete trailing window).

    Shape: daily-active dedup (one shuffle), offset explode map-side,
    one (day)-keyed distinct agg, one join of two O(days) tables."""
    ems = "unix_millis(ts)" if engine == "spark" else "epoch_ms(ts)"
    div = "DIV" if engine == "spark" else "//"
    off = (
        "(SELECT explode(sequence(0, 6)) AS o)" if engine == "spark"
        else "(SELECT unnest(range(0, 7)) AS o)"
    )
    r6 = lambda e: r_out_sql(e, 6)
    return f"""
    WITH da AS (
      SELECT DISTINCT user_id, (({ems}) {div} 86400000) AS ed FROM events
    ),
    dau AS (SELECT ed, count(*) AS n_dau FROM da GROUP BY ed),
    bounds AS (SELECT min(ed) AS lo FROM da),
    w AS (
      SELECT da.user_id, da.ed + o.o AS target_ed
      FROM da CROSS JOIN {off} o
    ),
    wau AS (
      SELECT target_ed AS ed, count(DISTINCT user_id) AS n_wau
      FROM w GROUP BY target_ed
    )
    SELECT CAST(d.ed AS BIGINT) AS epoch_day,
           CAST(d.n_dau AS BIGINT) AS n_dau,
           CAST(u.n_wau AS BIGINT) AS n_wau,
           {r6('CAST(d.n_dau AS DOUBLE) / CAST(u.n_wau AS DOUBLE)')} AS stickiness
    FROM dau d
    JOIN wau u ON u.ed = d.ed
    CROSS JOIN bounds b
    WHERE d.ed >= b.lo + 6
    ORDER BY epoch_day
    """


@register("dau_wau_stickiness", oracle=_stickiness_sql("duckdb"))
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_stickiness_sql("spark"))


dau_wau_stickiness.__doc__ = _stickiness_sql.__doc__


# --- multi-resolution rollup ladder (continuous-aggregate shape) ----------
# The hypertable/continuous-aggregate rollup the reference's
# segment-duration ladder serves (sampler.rs:42-51 picks the segment
# granularity; a TSDB dashboard reads minute, hour AND day resolutions of
# the same measure).  One GROUPING SETS pass computes the whole ladder:
# Spark plans Expand (3 rows per input) + ONE partial/final hash aggregate
# — one shuffle for all three resolutions, where three separate group-bys
# would scan and shuffle three times.  At 100 TB the win is strictly
# larger: the Expand runs map-side inside the scan stage, and the shuffle
# carries only partial aggregates (bucket cardinality), not input rows.
# Addends are dyadic-quantized so every engine sums bit-identically.
_ROLLUP_LADDER_SQL = f"""
    SELECT CASE WHEN grouping(bucket_minute) = 0 THEN 'minute'
                WHEN grouping(bucket_hour) = 0 THEN 'hour'
                ELSE 'day' END AS res,
           coalesce(bucket_minute, bucket_hour, bucket_day) AS bucket,
           event_type,
           count(*) AS n,
           {r_out_sql(f"sum({dyadic_sql('value', BITS_SMALL)})", 4)} AS sum_value
    FROM (SELECT date_trunc('minute', ts) AS bucket_minute,
                 date_trunc('hour', ts) AS bucket_hour,
                 date_trunc('day', ts) AS bucket_day,
                 event_type, value
          FROM events) __ladder
    GROUP BY GROUPING SETS ((bucket_minute, event_type),
                            (bucket_hour, event_type),
                            (bucket_day, event_type))
    """


@register("ts_rollup_ladder", oracle=_ROLLUP_LADDER_SQL)
def ts_rollup_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen_by_key (r13): the Expand(×3)+partial-aggregate map stage over a
    # deficient-split scan ran as ONE task (0.73 s single-core CPU at the
    # sf1 tier).  Keyed by (ts, event_type) — high-cardinality and
    # deterministic; any key works since the grouping-set exchange is keyed
    # by spark_grouping_id downstream either way.  Result-identical: counts
    # and dyadic-quantized sums are order-exact.
    widen_by_key(
        load(spark, sf_dir, "events"), "ts", "event_type"
    ).createOrReplaceTempView("events")
    return spark.sql(_ROLLUP_LADDER_SQL)


ts_rollup_ladder.__doc__ = (
    "Minute/hour/day rollups of the same measure in ONE shuffle via "
    "GROUPING SETS — the continuous-aggregate ladder; see module comment "
    "above _ROLLUP_LADDER_SQL."
)


# --- mergeable-sketch rollup (sketch union across granularities) ----------
# The companion to thetasketch_distinct for the ROLLUP case: distinct
# counts do not sum, so a day NDV normally needs a full re-scan — unless
# the hour partials are SKETCHES, which merge losslessly.  Per (type,
# hour) KMV theta sketches are merged to (type, day) and estimated once:
# the second aggregation shuffles only k-bounded arrays.  This is how a
# 100 TB deployment maintains its NDV rollup ladder — materialize hour
# sketches on ingest, answer day/week/month by merge, never re-scan.
#
# Exact-by-construction gate (VERDICT r11 #3; the name keeps its r10/r11
# registry identity although the sketch is KMV now, not Datasketches HLL:
# hll_union_agg's estimate measurably depends on arrival shape — sparse-
# mode promotion — so the merge identity only hashes deterministically
# with the KMV state, which is a pure function of the distinct set; see
# functions/sketches.py).  Emitted columns:
#   * hours_merged — how many hour partials fed each day group (exact).
#   * exact_ndv    — per-(type, day) COUNT(DISTINCT), the value the
#                    estimate is judged against.
#   * merge_diff   — estimate(merged-from-hours) − estimate(direct day
#                    sketch) = EXACTLY 0.0 by the k-min identity.
#   * within_4rsd  — the accuracy bound in the hash lane (4/√(k−2)≈6.3%).
@register(
    "hll_rollup_merge",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS bucket_day,
           CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS hours_merged,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_ndv,
           CAST(0.0 AS DOUBLE) AS merge_diff,
           TRUE AS within_4rsd
    FROM events GROUP BY 1, 2
    """,
)
def hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incubator_horaedb_spark.functions.sketches import (
        KMV_RSD,
        kmv_estimate,
        kmv_merge,
        kmv_salt_buckets,
        kmv_sketch_df,
        kmv_sketch_ndv_df,
    )

    ev = load(spark, sf_dir, "events")
    # bounded-state sketch builds (r13, VERDICT r12 #1): above the size
    # gate the finest-grain aggregation state is salted to ~NDV/m per cell
    # and the exact-NDV count runs as its own aggregation; results are
    # bitwise identical at every m by the k-min identity (sketches.py)
    m = kmv_salt_buckets(scale.scan_stats(ev).bytes)
    hourly = kmv_sketch_df(
        ev.withColumn("bucket_hour", F.date_trunc("hour", "ts")),
        ["event_type", "bucket_hour"],
        "user_id",
        m=m,
    )
    merged = hourly.groupBy(
        "event_type", F.to_date("bucket_hour").alias("bucket_day")
    ).agg(
        kmv_merge("sk").alias("sk_merged"),
        F.countDistinct("bucket_hour").alias("hours_merged"),
    )
    direct = kmv_sketch_ndv_df(
        ev.withColumn("bucket_day", F.to_date(F.date_trunc("day", "ts"))),
        ["event_type", "bucket_day"],
        "user_id",
        m=m,
        out="sk_direct",
        ndv_col="exact_ndv",
    )
    est_d, est_m = kmv_estimate("sk_direct"), kmv_estimate("sk_merged")
    return direct.join(merged, ["event_type", "bucket_day"]).select(
        "event_type",
        "bucket_day",
        "hours_merged",
        "exact_ndv",
        (est_m - est_d).alias("merge_diff"),
        (
            F.abs(est_d - F.col("exact_ndv"))
            <= F.lit(4 * KMV_RSD) * F.col("exact_ndv")
        ).alias("within_4rsd"),
    )


# --- persisted sketch table (materialize-on-ingest demonstrated) ----------
# One sketch-table directory PER (process, sf_dir), built on first use and
# reused by later invocations — the llm_ops._inc_index_dir shape: only the
# first call pays the materialization, matching a deployment where ingest
# maintains the hour-sketch table continuously.  Reclaimed at exit.
_SKETCH_STORE_STATE: dict[str, str] = {}


def _sketch_store_dir(sf_dir: str) -> tuple[str, bool]:
    """Returns (store path, already_built) for this corpus."""
    import atexit
    import shutil
    import tempfile

    if sf_dir in _SKETCH_STORE_STATE:
        return _SKETCH_STORE_STATE[sf_dir], True
    store = tempfile.mkdtemp(prefix="kmv_store_")
    _SKETCH_STORE_STATE[sf_dir] = store
    atexit.register(lambda: shutil.rmtree(store, ignore_errors=True))
    return store, False


@register(
    "sketch_rollup_persisted",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS bucket_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_ndv,
           CAST(0.0 AS DOUBLE) AS store_diff,
           TRUE AS within_4rsd
    FROM events GROUP BY 1, 2
    """,
)
def sketch_rollup_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED half of the sketch-rollup ladder: hll_rollup_merge
    proves the merge identity in one plan; this gate proves the sketch
    STATE survives storage — per-(type, hour) KMV sketches are persisted
    to a parquet sketch table once per corpus (the ingest-time
    materialization a 100 TB deployment maintains continuously; hour
    grain means day/week/month queries never re-scan raw data), and the
    day estimate computed from sketches READ BACK from disk must equal
    the estimate from freshly-built in-memory sketches EXACTLY
    (store_diff = 0.0) — array truncation, element reordering or type
    widening anywhere in the write→read path flips the hash.  exact_ndv
    and the 4·rsd accuracy boolean judge the stored estimate against the
    raw data like the other KMV gates.  Reference contract:
    thetasketch_distinct.rs:117-140 (the serialized merge state is the
    point of the sketch)."""
    from incubator_horaedb_spark.functions.sketches import (
        KMV_RSD,
        kmv_estimate,
        kmv_merge,
        kmv_salt_buckets,
        kmv_sketch_df,
    )

    ev = load(spark, sf_dir, "events")
    # bounded build above the size gate (r13; see sketches.py) — the
    # persisted sketch table is byte-identical at every m
    hourly = kmv_sketch_df(
        ev.withColumn("bucket_hour", F.date_trunc("hour", "ts")),
        ["event_type", "bucket_hour"],
        "user_id",
        m=kmv_salt_buckets(scale.scan_stats(ev).bytes),
    )
    path, built = _sketch_store_dir(sf_dir)
    if not built:
        hourly.write.mode("overwrite").parquet(path)
        fsops.invalidate_store_schema(path)  # ADVICE r12: memo follows the writer
    stored = (
        fsops.read_parquet_memo(spark, path)
        .groupBy("event_type", F.to_date("bucket_hour").alias("bucket_day"))
        .agg(kmv_merge("sk").alias("sk_stored"))
    )
    fresh = hourly.groupBy(
        "event_type", F.to_date("bucket_hour").alias("bucket_day")
    ).agg(kmv_merge("sk").alias("sk_fresh"))
    exact = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("bucket_day")
    ).agg(F.countDistinct("user_id").alias("exact_ndv"))
    est_s, est_f = kmv_estimate("sk_stored"), kmv_estimate("sk_fresh")
    return (
        stored.join(fresh, ["event_type", "bucket_day"])
        .join(exact, ["event_type", "bucket_day"])
        .select(
            "event_type",
            "bucket_day",
            "exact_ndv",
            (est_s - est_f).alias("store_diff"),
            (
                F.abs(est_s - F.col("exact_ndv"))
                <= F.lit(4 * KMV_RSD) * F.col("exact_ndv")
            ).alias("within_4rsd"),
        )
    )


# --- mergeable-histogram quantile rollup (p99 ladder shape) ----------------
# The quantile companion to hll_rollup_merge: percentiles do not sum, so a
# day p99 normally needs a full re-scan — unless the hour partials are
# FIXED-BIN HISTOGRAMS, which merge by adding counts.  Hour-level
# (type, hour, bin) counts (map-side combinable; bins are a deterministic
# function of the value: floor(value/8), clamped to 128 bins) roll up to
# (type, day, bin) by summing — the second aggregation shuffles only
# bin-count rows (<=128 per group, KBs), never raw values — and the
# quantile is read off the binned CDF (smallest bin whose running count
# reaches ceil(q*n); reported as the bin's upper bound).  This is how a
# 100 TB deployment maintains its latency-percentile ladder: materialize
# hour histograms on ingest, answer day/week/month by count-merge.
# Unlike the HLL gate this is EXACTLY oracle-checkable: bins, counts and
# the CDF rule are integer-deterministic, so the same SQL text runs on
# both engines and hashes must match bit-for-bit.
_HIST_QUANTILE_SQL = """
    WITH h AS (
      SELECT event_type,
             date_trunc('hour', ts) AS bucket_hour,
             LEAST(127, GREATEST(0, CAST(floor(value / 8.0) AS INT))) AS bin,
             count(*) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    d AS (
      SELECT event_type,
             CAST(date_trunc('day', bucket_hour) AS DATE) AS bucket_day,
             bin, CAST(sum(c) AS BIGINT) AS c
      FROM h GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT event_type, bucket_day, bin, c,
             sum(c) OVER (PARTITION BY event_type, bucket_day
                          ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY event_type, bucket_day) AS n
      FROM d
    )
    SELECT event_type, bucket_day, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= ceil(0.50 * n) THEN (bin + 1) * 8.0 END) AS DOUBLE) AS p50_ub,
           CAST(min(CASE WHEN cum >= ceil(0.95 * n) THEN (bin + 1) * 8.0 END) AS DOUBLE) AS p95_ub,
           CAST(min(CASE WHEN cum >= ceil(0.99 * n) THEN (bin + 1) * 8.0 END) AS DOUBLE) AS p99_ub
    FROM cum GROUP BY event_type, bucket_day
    """


@register("hist_quantile_rollup", oracle=_HIST_QUANTILE_SQL)
def hist_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_HIST_QUANTILE_SQL)


hist_quantile_rollup.__doc__ = (
    "Per-(type, day) p50/p95/p99 upper bounds from hour-level fixed-bin "
    "histogram partials merged by count-sum — the mergeable quantile "
    "ladder; see module comment above _HIST_QUANTILE_SQL."
)
