"""Frontend tests: InfluxQL parse/plan, line protocol, OpenTSDB put/query."""

from __future__ import annotations

import pytest

from incubator_horaedb_spark.frontends.influxql import (
    influxql_to_df,
    parse_influxql,
    parse_line_protocol,
    parse_line_protocol_typed,
)
from incubator_horaedb_spark.frontends.opentsdb import parse_put, parse_query_request

from incubator_horaedb_spark.functions.timeutil import epoch_ms


def test_parse_influxql():
    q = parse_influxql(
        "SELECT mean(value), count(value) FROM events "
        "WHERE time >= '2024-01-05 00:00:00' AND event_type = 'click' "
        "GROUP BY time(6h), event_type ORDER BY time DESC LIMIT 10"
    )
    assert q.projections == [("mean", "value"), ("count", "value")]
    assert q.measurement == "events"
    assert q.group_time_ms == 6 * 3_600_000
    assert q.group_tags == ["event_type"]
    assert q.order_desc and q.limit == 10


def test_influxql_plan(spark, sf_dir):
    # ts is TIMESTAMP(NANOS) in testdata parquet — must go through the
    # registry loader, which reads nanos-as-long and converts exactly.
    from incubator_horaedb_spark.querybank.registry import load

    ev = load(spark, sf_dir, "events")
    df = influxql_to_df(
        "SELECT mean(value) FROM events WHERE event_type = 'click' GROUP BY time(1d)",
        {"events": ev},
    )
    rows = df.collect()
    assert rows and set(df.columns) == {"time", "mean_value"}


def test_line_protocol():
    rows = parse_line_protocol(
        'cpu,host=web01,region=us usage=0.5,idle=99i 1700000000000000000\n'
        'cpu,host=web02 usage=0.7 1700000001000000000\n'
        'mem,host=web01 used="high" 1700000002000000000\n'
    )
    assert set(rows) == {"cpu", "mem"}
    assert rows["cpu"][0] == {
        "host": "web01",
        "region": "us",
        "usage": 0.5,
        "idle": 99,
        "ts": 1700000000000,
    }
    assert rows["mem"][0]["used"] == "high"


@pytest.mark.parametrize(
    "line, measurement, row",
    [
        # a quoted string field holds spaces, commas and `=` as they are
        ('m,t=a f="hello world" 1000000000', "m", {"t": "a", "f": "hello world", "ts": 1000}),
        ('m f="a,b",g=1i', "m", {"f": "a,b", "g": 1}),
        ('m f="k=v, x=y",g=2.5 2000000', "m", {"f": "k=v, x=y", "g": 2.5, "ts": 2}),
        # and escapes only a double quote and a backslash
        (
            r'm f="say \"hi\"",g="C:\\dir",h="a\tb"',
            "m",
            {"f": 'say "hi"', "g": "C:\\dir", "h": "a\\tb"},
        ),
        ('m f=""', "m", {"f": ""}),
        # outside quotes, `\ `, `\,` and `\=` escape the measurement, keys and tag values
        (r"m\ x\,y\=z f=1i", "m x,y=z", {"f": 1}),
        (r"m,t\ k\,l\=m=v f=1i", "m", {"t k,l=m": "v", "f": 1}),
        (r"m,t=a\ b\,c\=d f=1i", "m", {"t": "a b,c=d", "f": 1}),
        (r"m f\ k\,l\=m=1i", "m", {"f k,l=m": 1}),
        (r'm,t="q f="x y"', "m", {"t": '"q', "f": "x y"}),  # a quote in a tag value is literal
    ],
)
def test_line_protocol_quotes_and_escapes(line, measurement, row):
    batches = parse_line_protocol_typed(line)
    assert list(batches) == [measurement]
    assert batches[measurement].rows == [row]


@pytest.mark.parametrize(
    "line",
    ['m f="abc', 'm f="ab"cd', "m,,t=a f=1", "m f=1 2 3", "m", 'm f="x" 1 2', "m =1"],
)
def test_malformed_line_protocol_is_refused(line):
    with pytest.raises(ValueError):
        parse_line_protocol_typed(line)


def test_opentsdb_put_and_query():
    put = parse_put(
        '[{"metric": "sys.cpu", "timestamp": 1700000000, "value": 1.5, '
        '"tags": {"host": "a"}}]'
    )
    assert put["sys.cpu"][0] == {"ts": 1700000000000, "value": 1.5, "host": "a"}

    req = parse_query_request(
        {
            "start": 0,
            "end": 10,
            "queries": [
                {
                    "metric": "sys.cpu",
                    "aggregator": "avg",
                    "downsample": "15m-avg",
                    "filters": [
                        {"type": "literal_or", "tagk": "host", "filter": "a|b", "groupBy": True}
                    ],
                }
            ],
        }
    )
    sub = req.queries[0]
    assert sub.downsample_ms == 900_000
    assert sub.group_by_tags == ["host"]


def test_show_measurements(spark, sf_dir):
    # InfluxQL SHOW MEASUREMENTS (influxql/planner.rs: SHOW MEASUREMENTS
    # supported) — measurement list = registered tables, sorted.
    from incubator_horaedb_spark.frontends.influxql import show_measurements
    from incubator_horaedb_spark.querybank.registry import load

    tables = {
        "events": load(spark, sf_dir, "events"),
        "cpu": load(spark, sf_dir, "events"),
    }
    assert show_measurements(tables) == ["cpu", "events"]


def test_influxql_fill_grid_golden(spark):
    # Golden port of influxql/basic.sql group-by-time cases: the bucket grid
    # spans data-min bucket → WHERE upper bound; missing buckets are NULL
    # without fill, the constant with fill(666); `ms`-suffixed epoch time
    # literals parse (basic.result golden values).
    rows = [
        (1439827200000, "between 6 and 9 feet", "coyote_creek", 8.12),
        (1439827200000, "below 3 feet", "santa_monica", 2.064),
        (1439827560000, "between 6 and 9 feet", "coyote_creek", 8.005),
        (1439827560000, "below 3 feet", "santa_monica", 2.116),
        (1439827620000, "between 6 and 9 feet", "coyote_creek", 7.887),
        (1439827620000, "below 3 feet", "santa_monica", 2.028),
    ]
    from pyspark.sql import functions as F

    h2o = spark.createDataFrame(
        rows, "ms long, level_description string, location string, water_level double"
    ).withColumn("ts", F.timestamp_millis("ms"))

    def run(q):
        df = influxql_to_df(q, {"h2o_feet": h2o})
        return [
            (epoch_ms(r["time"]), r["location"], r["count_water_level"])
            for r in df.collect()
        ]

    golden_null = [
        (1439827200000, "coyote_creek", 1),
        (1439827500000, "coyote_creek", 2),
        (1439827800000, "coyote_creek", None),
        (1439828100000, "coyote_creek", None),
        (1439827200000, "santa_monica", 1),
        (1439827500000, "santa_monica", 2),
        (1439827800000, "santa_monica", None),
        (1439828100000, "santa_monica", None),
    ]
    got = run(
        "SELECT count(water_level) FROM h2o_feet where time < 1439828400000ms "
        "group by location, time(5m)"
    )
    assert got == golden_null

    got = run(
        "SELECT count(water_level) FROM h2o_feet where time < 1439828400000ms "
        "group by location, time(5m) fill(666)"
    )
    golden_fill = [(t, loc, 666 if c is None else c) for t, loc, c in golden_null]
    assert got == golden_fill

    # fill(none) suppresses the grid: only buckets with data
    got = run(
        "SELECT count(water_level) FROM h2o_feet where time < 1439828400000ms "
        "group by location, time(5m) fill(none)"
    )
    assert got == [r for r in golden_null if r[2] is not None]

    # fill(previous) carries the last seen value forward
    got = run(
        "SELECT count(water_level) FROM h2o_feet where time < 1439828400000ms "
        "group by location, time(5m) fill(previous)"
    )
    assert got == [(t, loc, 2 if c is None else c) for t, loc, c in golden_null]


def test_opentsdb_basic_golden(spark):
    # Golden port of env/local/opentsdb/basic.sql: aggregator "none"
    # returns raw time-ordered samples; the legacy "tags" map filters
    # exactly; aggregator "sum" (no downsample) sums ACROSS SERIES PER
    # TIMESTAMP (basic.result dps: 1439827200000 → 8.12+2.064 = 10.184).
    from pyspark.sql import functions as F

    from incubator_horaedb_spark.frontends.opentsdb import query_to_dfs

    rows = [
        (1439827200000, "between 6 and 9 feet", "coyote_creek", 8.12),
        (1439827200000, "below 3 feet", "santa_monica", 2.064),
        (1439827560000, "between 6 and 9 feet", "coyote_creek", 8.005),
        (1439827560000, "below 3 feet", "santa_monica", 2.116),
        (1439827620000, "between 6 and 9 feet", "coyote_creek", 7.887),
        (1439827620000, "below 3 feet", "santa_monica", 2.028),
    ]
    t = spark.createDataFrame(
        rows, "ms long, level_description string, location string, value double"
    ).withColumn("ts", F.timestamp_millis("ms"))

    def run(q):
        (df,) = query_to_dfs(t, {"start": 1439827200000, "end": 1439827620000, "queries": [q]})
        return df

    assert run({"aggregator": "none", "metric": "t", "tags": {}}).count() == 6

    tagged = run(
        {"aggregator": "none", "metric": "t", "tags": {"location": "coyote_creek"}}
    ).collect()
    assert [r["value"] for r in tagged] == [8.12, 8.005, 7.887]

    summed = run({"aggregator": "sum", "metric": "t", "tags": {}}).collect()
    dps = {epoch_ms(r["ts"]): round(r["value"], 6) for r in summed}
    assert dps == {1439827200000: 10.184, 1439827560000: 10.121, 1439827620000: 9.915}


def test_influxql_selector_and_derivative_parse():
    from incubator_horaedb_spark.frontends.influxql import parse_influxql

    iq = parse_influxql(
        "SELECT first(value), last(value), spread(value) FROM events "
        "GROUP BY time(30m), event_type fill(none)"
    )
    assert [a for a, _ in iq.projections] == ["first", "last", "spread"]
    assert iq.group_time_ms == 1800000 and iq.derivative is None

    iq = parse_influxql(
        "SELECT derivative(mean(value), 1s) FROM events GROUP BY time(6h), event_type"
    )
    # the comma inside derivative() is not a projection separator
    assert len(iq.projections) == 1
    assert iq.derivative == ("mean", "value", 1000)


def test_line_protocol_tag_escape_roundtrip():
    # protocol_e2e renders raw JSON props (spaces, braces) as tag values;
    # its escaping must round-trip through the server's parser
    from incubator_horaedb_spark.frontends.influxql import parse_line_protocol_typed
    from incubator_horaedb_spark.querybank.protocol_e2e import _esc_tag

    nasty = ['{"k": 69}', "a,b=c d", "back\\slash", "eq=eq", "  lead"]
    lines = "\n".join(
        f"m,props={_esc_tag(v)},event_id={i} value=1.5 1700000000000000000"
        for i, v in enumerate(nasty)
    )
    batches = parse_line_protocol_typed(lines)
    got = [r["props"] for r in batches["m"].rows]
    assert got == nasty
    assert batches["m"].tag_keys == {"props", "event_id"}


def test_influxql_nonneg_derivative_and_moving_average_parse():
    q = parse_influxql(
        "SELECT non_negative_derivative(mean(v), 1s) FROM m GROUP BY time(6h), tag"
    )
    assert q.derivative == ("mean", "v", 1000)
    assert q.derivative_nonneg
    q2 = parse_influxql("SELECT moving_average(sum(v), 4) FROM m GROUP BY time(1h), tag")
    assert q2.moving_average == ("sum", "v", 4)
    assert not q2.derivative_nonneg and q2.derivative is None


def test_influxql_moving_average_semantics(spark):
    # golden: per-series rolling mean of the last 3 buckets, emitted only
    # from the 3rd bucket on (InfluxDB starts at the Nth value)
    import datetime

    rows = [
        ("a", datetime.datetime(2024, 1, 1, h), float(v))
        for h, v in [(0, 1.0), (1, 2.0), (2, 3.0), (3, 10.0)]
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    out = influxql_to_df(
        "SELECT moving_average(sum(v), 3) FROM m GROUP BY time(1h), tag fill(none)",
        {"m": df},
    )
    got = [(r["time"].hour, r["moving_average_v"]) for r in out.collect()]
    assert got == [(2, 2.0), (3, 5.0)]


def test_influxql_nonneg_derivative_drops_negative_rows(spark):
    import datetime

    rows = [
        ("a", datetime.datetime(2024, 1, 1, h), float(v))
        for h, v in [(0, 1.0), (1, 5.0), (2, 2.0), (3, 8.0)]
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    out = influxql_to_df(
        "SELECT non_negative_derivative(sum(v), 1h) FROM m GROUP BY time(1h), tag fill(none)",
        {"m": df},
    )
    got = [(r["time"].hour, r["non_negative_derivative_v"]) for r in out.collect()]
    # hour1: +4, hour2: -3 (dropped), hour3: +6
    assert got == [(1, 4.0), (3, 6.0)]


def test_influxql_transform_tail_parse():
    # the r11 transform tail: difference / non_negative_difference /
    # cumulative_sum / elapsed / percentile / top / bottom
    q = parse_influxql("SELECT difference(sum(v)) FROM m GROUP BY time(1h), tag")
    assert q.transforms == [("difference", "sum", "v", None)]
    q = parse_influxql("SELECT non_negative_difference(max(v)) FROM m GROUP BY time(1h)")
    assert q.transforms == [("non_negative_difference", "max", "v", None)]
    q = parse_influxql("SELECT cumulative_sum(mean(v)) FROM m GROUP BY time(1h), tag")
    assert q.transforms == [("cumulative_sum", "mean", "v", None)]
    q = parse_influxql("SELECT elapsed(sum(v), 10s) FROM m GROUP BY time(1m), tag")
    assert q.transforms == [("elapsed", "sum", "v", 10_000)]
    q = parse_influxql("SELECT elapsed(v, 1m) FROM m GROUP BY tag")
    assert q.transforms == [("elapsed", None, "v", 60_000)]
    q = parse_influxql("SELECT percentile(v, 90) FROM m GROUP BY time(1h), tag")
    assert q.percentiles == {"v": 90.0} and q.projections == [("percentile", "v")]
    q = parse_influxql("SELECT top(v, 5) FROM m GROUP BY tag")
    assert q.selector == ("top", "v", 5)
    q = parse_influxql("SELECT bottom(v, 2) FROM m GROUP BY tag")
    assert q.selector == ("bottom", "v", 2)
    # combined transforms over one shared inner agg parse into a pipeline
    q = parse_influxql(
        "SELECT derivative(mean(v), 1s), moving_average(mean(v), 4) "
        "FROM m GROUP BY time(1h), tag"
    )
    assert [t[0] for t in q.transforms] == ["derivative", "moving_average"]
    # InfluxDB forbids mixing top/bottom with other projections
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_influxql("SELECT top(v, 2), mean(v) FROM m GROUP BY tag")


def test_influxql_difference_and_cumulative_sum_semantics(spark):
    import datetime

    rows = [
        ("a", datetime.datetime(2024, 1, 1, h), float(v))
        for h, v in [(0, 1.0), (1, 5.0), (2, 2.0), (3, 8.0)]
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    out = influxql_to_df(
        "SELECT difference(sum(v)) FROM m GROUP BY time(1h), tag fill(none)", {"m": df}
    )
    got = [(r["time"].hour, r["difference_v"]) for r in out.collect()]
    assert got == [(1, 4.0), (2, -3.0), (3, 6.0)]  # first point omitted
    out = influxql_to_df(
        "SELECT non_negative_difference(sum(v)) FROM m GROUP BY time(1h), tag fill(none)",
        {"m": df},
    )
    got = [(r["time"].hour, r["non_negative_difference_v"]) for r in out.collect()]
    assert got == [(1, 4.0), (3, 6.0)]  # negative delta omitted, not clamped
    out = influxql_to_df(
        "SELECT cumulative_sum(sum(v)) FROM m GROUP BY time(1h), tag fill(none)",
        {"m": df},
    )
    got = [(r["time"].hour, r["cumulative_sum_v"]) for r in out.collect()]
    assert got == [(0, 1.0), (1, 6.0), (2, 8.0), (3, 16.0)]  # emitted at EVERY point


def test_influxql_elapsed_truncates_to_unit(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", base, 1.0),
        ("a", base + datetime.timedelta(seconds=90), 2.0),   # 1.5 min -> 1
        ("a", base + datetime.timedelta(seconds=150), 3.0),  # 1.0 min -> 1
        ("b", base, 4.0),
        ("b", base + datetime.timedelta(seconds=59), 5.0),   # 0.98 min -> 0
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    out = influxql_to_df("SELECT elapsed(v, 1m) FROM m GROUP BY tag", {"m": df})
    got = sorted((r["tag"], r["elapsed_v"]) for r in out.collect())
    assert got == [("a", 1), ("a", 1), ("b", 0)]


def test_influxql_percentile_nearest_rank(spark):
    import datetime

    rows = [
        ("a", datetime.datetime(2024, 1, 1, 0, m), float(v))
        for m, v in enumerate([1.0, 2.0, 5.0, 8.0, 8.0])
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    # n=5, p=50: floor(5*0.5 + 0.5) = 3 -> 3rd smallest = 5.0 (a REAL point,
    # not the interpolated 5.0-ish median)
    out = influxql_to_df("SELECT percentile(v, 50) FROM m GROUP BY tag", {"m": df})
    assert [(r["tag"], r["percentile_v"]) for r in out.collect()] == [("a", 5.0)]
    # p=100 -> max; p=10 with n=5 -> floor(1.0)=1 -> min
    out = influxql_to_df("SELECT percentile(v, 100) FROM m GROUP BY tag", {"m": df})
    assert out.collect()[0]["percentile_v"] == 8.0
    out = influxql_to_df("SELECT percentile(v, 10) FROM m GROUP BY tag", {"m": df})
    assert out.collect()[0]["percentile_v"] == 1.0


def test_influxql_top_bottom_points(spark):
    import datetime

    rows = [
        ("a", datetime.datetime(2024, 1, 1, h), float(v))
        for h, v in [(0, 1.0), (1, 9.0), (2, 9.0), (3, 4.0)]
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    out = influxql_to_df("SELECT top(v, 2) FROM m GROUP BY tag", {"m": df})
    got = sorted((r["time"].hour, r["top_v"]) for r in out.collect())
    # value ties broken by earliest time: hours 1 and 2 (both 9.0)
    assert got == [(1, 9.0), (2, 9.0)]
    out = influxql_to_df("SELECT bottom(v, 1) FROM m GROUP BY tag", {"m": df})
    assert [(r["time"].hour, r["bottom_v"]) for r in out.collect()] == [(0, 1.0)]


def test_influxql_combined_transforms_share_one_frame(spark):
    # ADVICE r10: derivative + moving_average in one SELECT must compute
    # both off the shared grouped frame (union-aligned rows), not fail
    import datetime

    rows = [
        ("a", datetime.datetime(2024, 1, 1, h), float(v))
        for h, v in [(0, 1.0), (1, 3.0), (2, 5.0)]
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    out = influxql_to_df(
        "SELECT derivative(sum(v), 1h), moving_average(sum(v), 3) "
        "FROM m GROUP BY time(1h), tag fill(none)",
        {"m": df},
    )
    got = {
        r["time"].hour: (r["derivative_v"], r["moving_average_v"]) for r in out.collect()
    }
    # hour0 dropped (both null); hour1 has derivative only; hour2 has both
    assert got == {1: (2.0, None), 2: (2.0, 3.0)}


def test_influxql_fill_linear_interpolates_gaps(spark):
    import datetime

    rows = [
        ("a", datetime.datetime(2024, 1, 1, 0), 10.0),
        ("a", datetime.datetime(2024, 1, 1, 3), 40.0),
        ("b", datetime.datetime(2024, 1, 1, 1), 5.0),
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    out = influxql_to_df(
        "SELECT sum(v) FROM m "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-01 04:00:00' "
        "GROUP BY time(1h), tag fill(linear)",
        {"m": df},
    )
    got = {(r["tag"], r["time"].hour): r["sum_v"] for r in out.collect()}
    # a: gaps at hours 1,2 interpolate 20/30; b: single point, everything
    # outside the known range stays NULL (InfluxDB does not extrapolate)
    assert got[("a", 0)] == 10.0 and got[("a", 3)] == 40.0
    assert got[("a", 1)] == 20.0 and got[("a", 2)] == 30.0
    assert got[("b", 1)] == 5.0
    assert got[("b", 0)] is None and got[("b", 2)] is None and got[("b", 3)] is None


def test_influxql_transform_over_fill_golden(spark):
    # InfluxDB applies transforms AFTER fill: derivative over a
    # fill(linear) grid sees the interpolated values (VERDICT r11 #7).
    # Series a: known buckets h0=10, h3=40 → filled h1=20, h2=30 →
    # derivative(…, 1h) = 10 at h1, h2, h3 (h0 drops: no predecessor).
    # Series b: single known point → no interpolated pair anywhere → every
    # derivative NULL → b contributes no rows at all.
    import datetime

    rows = [
        ("a", datetime.datetime(2024, 1, 1, 0), 10.0),
        ("a", datetime.datetime(2024, 1, 1, 3), 40.0),
        ("b", datetime.datetime(2024, 1, 1, 1), 5.0),
    ]
    df = spark.createDataFrame(rows, ["tag", "ts", "v"])
    out = influxql_to_df(
        "SELECT derivative(sum(v), 1h) FROM m "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-01 04:00:00' "
        "GROUP BY time(1h), tag fill(linear)",
        {"m": df},
    )
    got = {(r["tag"], r["time"].hour): r["derivative_v"] for r in out.collect()}
    assert got == {("a", 1): 10.0, ("a", 2): 10.0, ("a", 3): 10.0}


def test_opentsdb_filter_types(spark):
    # OpenTSDB 2.x filter set beyond the reference's literal forms:
    # wildcard globs (LIKE metachars escaped), case-insensitive variants,
    # full-match regexp (Java Pattern.matches semantics)
    from incubator_horaedb_spark.frontends.opentsdb import OpenTsdbFilter

    df = spark.createDataFrame(
        [("web01",), ("Web02",), ("db%1",), ("api_3",), ("apiX3",)], ["host"]
    )

    def names(flt):
        return sorted(r["host"] for r in df.filter(flt.to_column()).collect())

    assert names(OpenTsdbFilter("wildcard", "host", "web*")) == ["web01"]
    assert names(OpenTsdbFilter("iwildcard", "host", "web*")) == ["Web02", "web01"]
    # a literal % or _ in the glob must not act as a LIKE wildcard
    assert names(OpenTsdbFilter("wildcard", "host", "db%*")) == ["db%1"]
    assert names(OpenTsdbFilter("wildcard", "host", "api_*")) == ["api_3"]
    # regexp is a FULL match: 'web0' alone matches nothing
    assert names(OpenTsdbFilter("regexp", "host", "web0")) == []
    assert names(OpenTsdbFilter("regexp", "host", "web0.|api.3")) == [
        "apiX3", "api_3", "web01",
    ]
    assert names(OpenTsdbFilter("iliteral_or", "host", "WEB01|web02")) == [
        "Web02", "web01",
    ]
    assert names(OpenTsdbFilter("not_iliteral_or", "host", "WEB01|web02")) == [
        "apiX3", "api_3", "db%1",
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        OpenTsdbFilter("nope", "host", "x").to_column()
