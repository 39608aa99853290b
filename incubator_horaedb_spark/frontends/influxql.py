"""InfluxQL frontend (minimal dialect) + line-protocol write parsing.

Reference: src/query_frontend/src/influxql/planner.rs:33-286 bridges
InfluxQL to the engine via iox's planner; the tested surface
(integration_tests/cases/env/local/influxql/basic.sql) is SELECT with
field/tag projection, WHERE on time/tags, GROUP BY time(interval)[, tag],
plus SHOW MEASUREMENTS.  This module compiles that surface straight to
DataFrame ops.

Grammar supported::

    SELECT <agg>(<field>) | <field-list> | <transform> | <selector>
    FROM <measurement>
    [WHERE <cond> [AND <cond>]...]         -- time >=/<= literal, tag = 'v'
    [GROUP BY time(<interval>)[, <tag>...] [fill(null|none|previous|linear|<n>)]]
    [ORDER BY time [DESC]] [LIMIT n]

    <agg>       := sum|count|mean|min|max|stddev|first|last|spread
                   | percentile(field, N)          -- nearest-rank selector
    <transform> := [non_negative_]derivative(agg(f), dur)
                   | moving_average(agg(f), N)
                   | [non_negative_]difference(agg(f))
                   | cumulative_sum(agg(f))
                   | elapsed(f|agg(f), dur)
    <selector>  := top(f, N) | bottom(f, N)        -- multi-row, exclusive

Multiple transforms combine in one SELECT off a single shared grouped
frame (iox transformation surface reached through
src/query_frontend/src/influxql/planner.rs:51).

Line protocol (write side): ``measurement[,tag=v...] field=v[,field2=v...] [ts]``
(src/proxy/src/influxdb/types.rs:1-903) — measurement → table, tags →
TAG columns, fields → value columns, timestamp ns → ms.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_horaedb_spark.functions.time_bucket import date_bin

_AGG_RE = re.compile(r"^(sum|count|mean|min|max|stddev|first|last|spread)\((\w+)\)$", re.I)
_INTERVAL_RE = re.compile(r"^time\((\d+)([smhd])\)$", re.I)
# derivative(mean(v), 1s) — IOx influxql-query transformation surface
# (the reference reaches it through the influxql-logical-planner crates,
# src/query_frontend/src/influxql/planner.rs:51)
_DERIV_RE = re.compile(
    r"^(non_negative_)?derivative\(\s*(sum|count|mean|min|max|first|last)\((\w+)\)\s*,\s*(\d+)([smhd])\s*\)$",
    re.I,
)
# moving_average(agg(col), N): rolling mean over N consecutive buckets,
# emitted from the Nth bucket on (InfluxQL transformation family)
_MAVG_RE = re.compile(
    r"^moving_average\(\s*(sum|count|mean|min|max|first|last)\((\w+)\)\s*,\s*(\d+)\s*\)$",
    re.I,
)
# difference / non_negative_difference (agg(col)): per-series delta between
# consecutive values, no unit scaling (InfluxQL transformation family)
_DIFF_RE = re.compile(
    r"^(non_negative_)?difference\(\s*(sum|count|mean|min|max|first|last)\((\w+)\)\s*\)$",
    re.I,
)
# cumulative_sum(agg(col)): per-series running sum, emitted at every point
_CUMSUM_RE = re.compile(
    r"^cumulative_sum\(\s*(sum|count|mean|min|max|first|last)\((\w+)\)\s*\)$",
    re.I,
)
# elapsed(col, unit) / elapsed(agg(col), unit): per-series time delta
# between consecutive points in integral units (InfluxDB truncates)
_ELAPSED_RE = re.compile(
    r"^elapsed\(\s*(?:(sum|count|mean|min|max|first|last)\((\w+)\)|(\w+))\s*,\s*(\d+)([smhd])\s*\)$",
    re.I,
)
# percentile(col, N): InfluxDB's nearest-rank selector — sorts the group's
# values ascending and returns the element at floor(n*N/100 + 0.5) (1-based;
# out-of-range → null), NOT an interpolated quantile
_PCTL_RE = re.compile(r"^percentile\(\s*(\w+)\s*,\s*(\d+(?:\.\d+)?)\s*\)$", re.I)
# top/bottom(col, N): multi-row selectors returning the N extreme points per
# series with their own timestamps preserved
_TOPBOT_RE = re.compile(r"^(top|bottom)\(\s*(\w+)\s*,\s*(\d+)\s*\)$", re.I)
_UNIT_MS = {"s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
# Each entry takes (field column name, timestamp column name).  The
# selector functions first/last are InfluxQL's value-at-min/max-time —
# deterministic whenever (series, ts) is unique, the same uniqueness
# contract the dedup read path assumes for (pk, __seq).
_AGG_FNS = {
    "sum": lambda c, ts: F.sum(c),
    "count": lambda c, ts: F.count(c),
    "mean": lambda c, ts: F.avg(c),
    "min": lambda c, ts: F.min(c),
    "max": lambda c, ts: F.max(c),
    "stddev": lambda c, ts: F.stddev_samp(c),
    "first": lambda c, ts: F.min_by(c, ts),
    "last": lambda c, ts: F.max_by(c, ts),
    "spread": lambda c, ts: F.max(c) - F.min(c),
}


@dataclass
class InfluxQuery:
    projections: list[tuple[str | None, str]]  # (agg|None, column)
    measurement: str
    conditions: list[str]
    group_time_ms: int | None
    group_tags: list[str]
    order_desc: bool
    limit: int | None
    fill: float | str | None = None  # number | "null" (default grid) | "none"
    # Transformation pipeline entries in projection order, each
    # (kind, inner agg | None, column, param).  kind ∈ {derivative,
    # non_negative_derivative, moving_average, difference,
    # non_negative_difference, cumulative_sum, elapsed}; param is the unit
    # in ms (derivative/elapsed), the window size N (moving_average), or
    # None.  Multiple transforms over different inner aggs share ONE
    # grouped frame (ADVICE r10: derivative+moving_average combinations
    # must compute both, not fail at runtime).
    transforms: list[tuple[str, str | None, str, int | None]] = field(default_factory=list)
    # percentile(col, N) selectors: column → N (nearest-rank, ascending)
    percentiles: dict[str, float] = field(default_factory=dict)
    # top/bottom(col, N) multi-row selector: (kind, column, N) — InfluxDB
    # forbids mixing these with other projections, and so do we
    selector: tuple[str, str, int] | None = None

    # -- legacy accessors (pre-r11 callers/tests read these) --
    @property
    def derivative(self) -> tuple[str, str, int] | None:
        for kind, agg, col, param in self.transforms:
            if kind in ("derivative", "non_negative_derivative"):
                return (agg, col, param)
        return None

    @property
    def derivative_nonneg(self) -> bool:
        return any(t[0] == "non_negative_derivative" for t in self.transforms)

    @property
    def moving_average(self) -> tuple[str, str, int] | None:
        for kind, agg, col, param in self.transforms:
            if kind == "moving_average":
                return (agg, col, param)
        return None


def parse_influxql(q: str) -> InfluxQuery:
    m = re.match(
        r"^\s*SELECT\s+(?P<proj>.+?)\s+FROM\s+\"?(?P<meas>\w+)\"?"
        r"(?:\s+WHERE\s+(?P<where>.+?))?"
        r"(?:\s+GROUP\s+BY\s+(?P<group>.+?))?"
        r"(?:\s+ORDER\s+BY\s+time(?P<desc>\s+DESC)?)?"
        r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*$",
        q.strip(),
        re.I | re.S,
    )
    if not m:
        raise ValueError(f"unsupported InfluxQL: {q!r}")
    projections: list[tuple[str | None, str]] = []
    # paren-aware projection split: the comma inside derivative(mean(v), 1s)
    # is part of the call, not a projection separator
    items, depth, cur = [], 0, []
    for ch in m.group("proj"):
        if ch == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            depth += ch == "("
            depth -= ch == ")"
            cur.append(ch)
    items.append("".join(cur))
    transforms: list[tuple[str, str | None, str, int | None]] = []
    percentiles: dict[str, float] = {}
    selector: tuple[str, str, int] | None = None
    for item in items:
        item = item.strip()
        d_m = _DERIV_RE.match(item)
        if d_m:
            unit_ms = int(d_m.group(4)) * _UNIT_MS[d_m.group(5).lower()]
            kind = "non_negative_derivative" if d_m.group(1) else "derivative"
            transforms.append((kind, d_m.group(2).lower(), d_m.group(3), unit_ms))
            projections.append((d_m.group(2).lower(), d_m.group(3)))
            continue
        ma_m = _MAVG_RE.match(item)
        if ma_m:
            transforms.append(
                ("moving_average", ma_m.group(1).lower(), ma_m.group(2), int(ma_m.group(3)))
            )
            projections.append((ma_m.group(1).lower(), ma_m.group(2)))
            continue
        df_m = _DIFF_RE.match(item)
        if df_m:
            kind = "non_negative_difference" if df_m.group(1) else "difference"
            transforms.append((kind, df_m.group(2).lower(), df_m.group(3), None))
            projections.append((df_m.group(2).lower(), df_m.group(3)))
            continue
        cs_m = _CUMSUM_RE.match(item)
        if cs_m:
            transforms.append(("cumulative_sum", cs_m.group(1).lower(), cs_m.group(2), None))
            projections.append((cs_m.group(1).lower(), cs_m.group(2)))
            continue
        el_m = _ELAPSED_RE.match(item)
        if el_m:
            unit_ms = int(el_m.group(4)) * _UNIT_MS[el_m.group(5).lower()]
            agg = el_m.group(1).lower() if el_m.group(1) else None
            col = el_m.group(2) if el_m.group(1) else el_m.group(3)
            transforms.append(("elapsed", agg, col, unit_ms))
            projections.append((agg, col))
            continue
        p_m = _PCTL_RE.match(item)
        if p_m:
            percentiles[p_m.group(1)] = float(p_m.group(2))
            projections.append(("percentile", p_m.group(1)))
            continue
        tb_m = _TOPBOT_RE.match(item)
        if tb_m:
            if selector is not None:
                raise ValueError("only one top()/bottom() selector per query")
            selector = (tb_m.group(1).lower(), tb_m.group(2), int(tb_m.group(3)))
            projections.append((tb_m.group(1).lower(), tb_m.group(2)))
            continue
        agg_m = _AGG_RE.match(item)
        if agg_m:
            projections.append((agg_m.group(1).lower(), agg_m.group(2)))
        else:
            projections.append((None, item.strip('"')))
    if selector is not None and len(projections) > 1:
        # influxdb: "selector function top() cannot be combined with other
        # functions" — reject at parse time, not with an AnalysisException
        raise ValueError("top()/bottom() cannot be combined with other projections")
    group_time_ms, group_tags, fill = None, [], None
    if m.group("group"):
        group_raw = m.group("group")
        # fill(<n>|null|none) trails the GROUP BY list
        # (influxql/basic.sql `group by location, time(5m) fill(666)`)
        f_m = re.search(
            r"\bfill\(\s*(-?\d+(?:\.\d+)?|null|none|previous|linear)\s*\)",
            group_raw,
            re.I,
        )
        if f_m:
            v = f_m.group(1).lower()
            fill = v if v in ("null", "none", "previous", "linear") else float(f_m.group(1))
            group_raw = group_raw[: f_m.start()] + group_raw[f_m.end() :]
        for g in group_raw.split(","):
            g = g.strip()
            if not g:
                continue
            t_m = _INTERVAL_RE.match(g)
            if t_m:
                group_time_ms = int(t_m.group(1)) * _UNIT_MS[t_m.group(2).lower()]
            else:
                group_tags.append(g.strip('"'))
    conditions = (
        [c.strip() for c in re.split(r"\s+AND\s+", m.group("where"), flags=re.I)]
        if m.group("where")
        else []
    )
    return InfluxQuery(
        projections=projections,
        measurement=m.group("meas"),
        conditions=conditions,
        group_time_ms=group_time_ms,
        group_tags=group_tags,
        order_desc=bool(m.group("desc")),
        limit=int(m.group("limit")) if m.group("limit") else None,
        fill=fill,
        transforms=transforms,
        percentiles=percentiles,
        selector=selector,
    )


_COND_RE = re.compile(r"^\"?(\w+)\"?\s*(>=|<=|=|!=|>|<)\s*(.+)$")
# epoch time literal with InfluxQL duration-unit suffix: `1439828400000ms`
# (influxql/basic.sql `where time < 1439828400000ms`)
_TIME_EPOCH_RE = re.compile(r"^(\d+)(ns|u|µ|ms|s)?$")
_EPOCH_TO_MS = {"ns": 1e-6, "u": 1e-3, "µ": 1e-3, "ms": 1, "s": 1000, None: 1}


def _time_literal_ms(raw: str) -> int | None:
    m = _TIME_EPOCH_RE.match(raw)
    if not m:
        return None
    return int(int(m.group(1)) * _EPOCH_TO_MS[m.group(2)])


def _condition_to_column(cond: str, ts_col: str):
    """Returns (filter Column, time_bound) where time_bound is
    (op, epoch_ms) for numeric time comparisons (drives the fill grid)."""
    m = _COND_RE.match(cond.strip())
    if not m:
        raise ValueError(f"unsupported condition: {cond!r}")
    name, op, raw = m.groups()
    raw = raw.strip()
    bound = None
    if name == "time":
        name = ts_col
        epoch_ms = _time_literal_ms(raw)
        if epoch_ms is not None:
            value = F.timestamp_millis(F.lit(epoch_ms))
            bound = (op, epoch_ms)
        else:
            # ISO string literal: the comparison Column uses the engine's
            # cast, but the fill grid needs the bound too — without it a
            # sparse tier's grid would shrink to the data extent instead
            # of the query's stated window (r11: fill(linear) at sf0.001)
            value = F.lit(raw.strip("'")).cast("timestamp")
            try:
                import datetime as _dt

                from incubator_horaedb_spark.functions import timeutil

                dt = _dt.datetime.fromisoformat(raw.strip("'")).replace(
                    tzinfo=_dt.timezone.utc
                )
                bound = (op, timeutil.epoch_ms(dt))
            except ValueError:
                bound = None
    elif raw.startswith("'"):
        value = F.lit(raw.strip("'"))
    else:
        value = F.lit(float(raw)) if "." in raw else F.lit(int(raw))
    col = F.col(name)
    return {
        "=": col == value,
        "!=": col != value,
        ">": col > value,
        ">=": col >= value,
        "<": col < value,
        "<=": col <= value,
    }[op], bound


def influxql_to_df(
    q: str | InfluxQuery,
    tables: dict[str, DataFrame],
    *,
    ts_col: str = "ts",
) -> DataFrame:
    """Compile an InfluxQL SELECT into a DataFrame."""
    iq = parse_influxql(q) if isinstance(q, str) else q
    if iq.measurement not in tables:
        raise KeyError(f"unknown measurement {iq.measurement!r}")
    df = tables[iq.measurement]
    lo_ms = hi_ms = None
    for cond in iq.conditions:
        col, bound = _condition_to_column(cond, ts_col)
        df = df.filter(col)
        if bound:
            op, ms = bound
            if op in (">", ">="):
                lo_ms = ms + (1 if op == ">" else 0)
            elif op in ("<", "<="):
                hi_ms = ms + (1 if op == "<=" else 0)  # exclusive upper

    if iq.selector is not None:
        # top/bottom(col, N): N extreme POINTS per series (per time bucket
        # when GROUP BY time() is present), each with its own timestamp —
        # a rank window, never a groupBy that loses the point time.
        # Tie-break on point time ascending so the result multiset is
        # deterministic across engines.
        from pyspark.sql.window import Window

        kind, col, n = iq.selector
        parts = [F.col(t) for t in iq.group_tags]
        if iq.group_time_ms:
            parts.append(date_bin(iq.group_time_ms, ts_col))
        rank_order = F.col(col).desc() if kind == "top" else F.col(col).asc()
        w = Window.partitionBy(*parts).orderBy(rank_order, F.col(ts_col).asc())
        out = (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n)
            .select(
                F.col(ts_col).alias("time"), *iq.group_tags,
                F.col(col).alias(f"{kind}_{col}"),
            )
        )
        order = F.col("time")
    elif any(agg for agg, _ in iq.projections):
        group_cols = []
        if iq.group_time_ms:
            group_cols.append(date_bin(iq.group_time_ms, ts_col).alias("time"))
        group_cols += [F.col(t) for t in iq.group_tags]

        def _agg_expr(agg: str, col: str):
            if agg == "percentile":
                # InfluxDB nearest-rank: sort ascending, take the element at
                # floor(n·p/100 + 0.5) (1-based); index 0 → null.  F.get is
                # 0-based and null-safe out of range (no ANSI throw).
                p = iq.percentiles[col]
                arr = F.sort_array(F.collect_list(F.col(col)))
                idx = F.floor(
                    F.size(arr) * F.lit(p) / F.lit(100.0) + F.lit(0.5)
                ).cast("int")
                return F.get(arr, idx - 1).alias(f"percentile_{col}")
            return _AGG_FNS[agg](col, ts_col).alias(f"{agg}_{col}")

        # dedupe by alias: two transforms over the same inner agg (e.g.
        # derivative(sum(v),..) + moving_average(sum(v),..)) share ONE
        # aggregate column in the grouped frame
        aggs, seen = [], set()
        for agg, col in iq.projections:
            if not agg:
                continue
            name = f"{agg}_{col}"
            if name not in seen:
                seen.add(name)
                aggs.append(_agg_expr(agg, col))
        out = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)
        if iq.group_time_ms and iq.fill != "none":
            out = _fill_time_grid(out, iq, lo_ms, hi_ms)
        if iq.transforms:
            out = _apply_transforms(out, iq)
        order = F.col("time") if iq.group_time_ms else None
    elif iq.transforms and iq.transforms[0][0] == "elapsed" and iq.transforms[0][1] is None:
        # raw elapsed(field, unit): per-series time delta between
        # consecutive raw points in integral units (InfluxDB truncates) —
        # one lag window over the raw scan, first point omitted
        from pyspark.sql.window import Window

        _, _, col, unit_ms = iq.transforms[0]
        w = Window.partitionBy(*[F.col(t) for t in iq.group_tags]).orderBy(ts_col)
        t_ms = F.unix_millis(F.col(ts_col))
        out = (
            df.withColumn(
                "__e",
                F.floor((t_ms - F.lag(t_ms).over(w)) / F.lit(unit_ms)).cast("bigint"),
            )
            .filter(F.col("__e").isNotNull())
            .select(
                F.col(ts_col).alias("time"), *iq.group_tags,
                F.col("__e").alias(f"elapsed_{col}"),
            )
        )
        order = F.col("time")
    else:
        cols = [F.col(ts_col).alias("time")] + [F.col(c) for _, c in iq.projections]
        out = df.select(*cols)
        order = F.col("time")
    if order is not None:
        keys = [F.col(t) for t in iq.group_tags] + [order.desc() if iq.order_desc else order]
        out = out.orderBy(*keys)
    if iq.limit:
        out = out.limit(iq.limit)
    return out


def _apply_transforms(out: DataFrame, iq: InfluxQuery) -> DataFrame:
    """Apply the InfluxQL transformation pipeline over the grouped frame.

    Every transform is one window expression over the ALREADY-bucketed
    series (per-series lag / ROWS frame / running sum — never raw samples),
    all sharing the same partition-by-tags/order-by-time window, so N
    transforms cost one sort, not N.  A row is emitted when ANY transform
    produced a value: single-transform queries keep InfluxDB's exact
    drop-the-null-rows semantics (first point for difference/derivative,
    first N-1 for moving_average, negatives for the non_negative variants),
    and combined queries align on the union with nulls for the transforms
    that have no value there (InfluxDB's dense multi-column output).

    Reference surface: iox transformation functions reached through
    src/query_frontend/src/influxql/planner.rs:51."""
    import functools
    import operator

    from pyspark.sql.window import Window

    w = Window.partitionBy(*[F.col(t) for t in iq.group_tags]).orderBy("time")
    t_ms = F.unix_millis(F.col("time").cast("timestamp"))
    names: list[str] = []
    cols: list = []
    for kind, agg, col, param in iq.transforms:
        v = F.col(f"{agg}_{col}")
        if kind in ("derivative", "non_negative_derivative"):
            dv, dt = v - F.lag(v).over(w), t_ms - F.lag(t_ms).over(w)
            expr = dv / (dt.cast("double") / F.lit(float(param)))
            if kind == "non_negative_derivative":
                expr = F.when(expr >= 0, expr)  # negatives omitted, not clamped
        elif kind in ("difference", "non_negative_difference"):
            expr = v - F.lag(v).over(w)
            if kind == "non_negative_difference":
                expr = F.when(expr >= 0, expr)
        elif kind == "moving_average":
            wn = w.rowsBetween(-(param - 1), 0)
            # emitted only once the window holds N points (InfluxDB starts
            # at the Nth value)
            expr = F.when(F.count(v).over(wn) == param, F.avg(v).over(wn))
        elif kind == "cumulative_sum":
            expr = F.sum(v).over(w.rowsBetween(Window.unboundedPreceding, 0))
        elif kind == "elapsed":
            expr = F.floor((t_ms - F.lag(t_ms).over(w)) / F.lit(param)).cast("bigint")
        else:  # pragma: no cover - parse layer only emits the kinds above
            raise ValueError(f"unknown transform {kind!r}")
        name = f"{kind}_{col}"
        out = out.withColumn(name, expr)
        names.append(name)
        cols.append(F.col(name))
    keep = functools.reduce(operator.or_, (F.col(n).isNotNull() for n in names))
    return out.filter(keep).select("time", *iq.group_tags, *cols)


def _fill_time_grid(out: DataFrame, iq: InfluxQuery, lo_ms: int | None, hi_ms: int | None) -> DataFrame:
    """InfluxDB time-grid semantics (golden influxql/basic.result): a
    GROUP BY time(..) query emits EVERY bucket of the grid per series —
    from the WHERE lower bound (else the first bucket with data) to the
    WHERE upper bound (else the last with data) — with missing buckets
    NULL, or the fill(<n>) constant / fill(previous) carry-forward.

    Distributed shape: the grid is a per-series sequence() explode sized
    span/interval (bounded — it's the query's own step count), joined
    against the aggregated buckets; never a driver-side loop."""
    step = iq.group_time_ms
    spark = out.sparkSession
    # grid bounds: prefer WHERE bounds; fall back to the data's extent
    # (a 2-value collect over the already-aggregated buckets).
    if lo_ms is None or hi_ms is None:
        ext = out.agg(
            F.min(F.unix_millis("time")).alias("lo"), F.max(F.unix_millis("time")).alias("hi")
        ).collect()[0]
        if ext["lo"] is None:
            return out  # no data, no bounds → empty result stays empty
        lo_ms = lo_ms if lo_ms is not None else ext["lo"]
        hi_ms = hi_ms if hi_ms is not None else ext["hi"] + 1
    start = (lo_ms // step) * step
    end = ((hi_ms - 1) // step) * step
    if end < start:
        return out
    buckets = spark.range(1).select(
        F.explode(F.sequence(F.lit(start), F.lit(end), F.lit(step))).alias("__ms")
    ).select(F.timestamp_millis(F.col("__ms")).alias("time"))
    grid = (
        out.select(*iq.group_tags).distinct().crossJoin(buckets)
        if iq.group_tags
        else buckets
    )
    joined = grid.join(out, on=["time", *iq.group_tags], how="left")
    if isinstance(iq.fill, float):
        agg_cols = [c for c in out.columns if c not in ("time", *iq.group_tags)]
        for c in agg_cols:
            fill_lit = F.lit(iq.fill).cast(joined.schema[c].dataType)
            joined = joined.withColumn(c, F.coalesce(F.col(c), fill_lit))
    elif iq.fill == "previous":
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*iq.group_tags)
            .orderBy("time")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        agg_cols = [c for c in out.columns if c not in ("time", *iq.group_tags)]
        for c in agg_cols:
            joined = joined.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    elif iq.fill == "linear":
        # InfluxDB fill(linear): missing buckets interpolate between the
        # nearest known values before and after; buckets outside the known
        # range stay NULL.  Two per-series windows (carry-forward and
        # carry-backward of value AND its bucket time) — no self-join.
        from pyspark.sql import Window

        wp = (
            Window.partitionBy(*iq.group_tags)
            .orderBy("time")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wn = (
            Window.partitionBy(*iq.group_tags)
            .orderBy("time")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        tms = F.unix_millis(F.col("time").cast("timestamp")).cast("double")
        agg_cols = [c for c in joined.columns if c not in ("time", *iq.group_tags)]
        for c in agg_cols:
            v = F.col(c)
            pv = F.last(v, ignorenulls=True).over(wp)
            nv = F.first(v, ignorenulls=True).over(wn)
            pt = F.last(F.when(v.isNotNull(), tms), ignorenulls=True).over(wp)
            nt = F.first(F.when(v.isNotNull(), tms), ignorenulls=True).over(wn)
            interp = pv + (nv - pv) * (tms - pt) / (nt - pt)
            joined = joined.withColumn(
                c,
                F.coalesce(
                    v,
                    F.when(pv.isNotNull() & nv.isNotNull(), interp).cast(
                        joined.schema[c].dataType
                    ),
                ),
            )
    return joined


def show_measurements(tables: dict[str, DataFrame]) -> list[str]:
    """InfluxQL SHOW MEASUREMENTS (planner.rs: SHOW MEASUREMENTS support)."""
    return sorted(tables)


_ESC_RE = re.compile(r"\\(.)")


@dataclass
class ProtocolBatch:
    """Parsed protocol rows with the tag/field split preserved.

    The reference's write path keeps tags and fields distinct all the way
    into schema building (proxy/src/influxdb/types.rs WriteTable: tag_names
    vs field_names) — tags define the series key (tsid) so inferring them
    from value types loses information (a quoted string FIELD is not a
    TAG).  ``tag_keys`` is the union over the whole batch, so a tag absent
    from the first row still classifies correctly."""

    rows: list[dict[str, Any]] = field(default_factory=list)
    tag_keys: set[str] = field(default_factory=set)


# The slow path of a line holding a backslash or a double quote: the
# sections (measurement and tags, fields, timestamp) split on spaces that are
# neither escaped nor inside a quoted field value; the elements of a section
# on such commas; an element on its first unescaped ``=``.
_LINE_RE = re.compile(r'((?:[^ \\]|\\.)+) ((?:"(?:[^"\\]|\\.)*"|[^ "\\]|\\.)+)(?: (\S+))?')
_TAG_RE = re.compile(r"(?:[^,\\]|\\.)+")
_FIELD_RE = re.compile(r'(?:"(?:[^"\\]|\\.)*"|[^,"\\]|\\.)+')
_KEY_RE = re.compile(r"((?:[^=\\]|\\.)+)=(.*)", re.S)
_STRING_ESC_RE = re.compile(r'\\([\\"])')


def _elements(section: str, pattern: re.Pattern, line: str) -> list[str]:
    """``section``'s comma-separated elements, as ``pattern`` tokenizes them."""
    out = pattern.findall(section)
    if ",".join(out) != section:  # an empty element, or a stray quote
        raise ValueError(f"bad line protocol: {line!r}")
    return out


def _key_value(element: str, line: str) -> tuple[str, str]:
    """``element`` split on its first unescaped ``=``, the key unescaped."""
    if "\\" in element:
        m = _KEY_RE.fullmatch(element)
        if m is None:
            raise ValueError(f"bad line protocol: {line!r}")
        return _ESC_RE.sub(r"\1", m[1]), m[2]
    k, eq, v = element.partition("=")
    if not eq or not k:
        raise ValueError(f"bad line protocol: {line!r}")
    return k, v


def parse_line_protocol_typed(text: str) -> dict[str, ProtocolBatch]:
    """InfluxDB line protocol → measurement → ProtocolBatch.

    ``cpu,host=a,region=r usage=0.5,idle=99i 1700000000000000000``
    Timestamps are nanoseconds (default precision) → stored as ms.
    Integer fields use the ``i`` suffix; strings are double-quoted and may
    hold spaces, commas and ``=`` as they are, ``\\"`` and ``\\\\`` escaped.
    In the measurement, keys and tag values a space, comma or ``=`` is
    escaped with a backslash.  A line with neither a backslash nor a
    double quote splits with ``str.split`` alone.
    """
    out: dict[str, ProtocolBatch] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if "\\" in line or '"' in line:
            m = _LINE_RE.fullmatch(line)
            if m is None:
                raise ValueError(f"bad line protocol: {line!r}")
            head, fields_raw, ts = m.groups()
            head_parts = _elements(head, _TAG_RE, line)
            fields = _elements(fields_raw, _FIELD_RE, line)
        else:
            parts = line.split(" ")
            if not 2 <= len(parts) <= 3:
                raise ValueError(f"bad line protocol: {line!r}")
            head, fields_raw, ts = parts[0], parts[1], parts[2] if len(parts) > 2 else None
            head_parts, fields = head.split(","), fields_raw.split(",")
        measurement = head_parts[0]
        if "\\" in measurement:
            measurement = _ESC_RE.sub(r"\1", measurement)
        row: dict[str, Any] = {}
        tag_keys: set[str] = set()
        for tag in head_parts[1:]:
            k, v = _key_value(tag, line)
            row[k] = _ESC_RE.sub(r"\1", v) if "\\" in v else v
            tag_keys.add(k)
        for fld in fields:
            k, v = _key_value(fld, line)
            if v.startswith('"'):
                if len(v) < 2 or not v.endswith('"'):
                    raise ValueError(f"bad line protocol: {line!r}")
                v = v[1:-1]
                row[k] = _STRING_ESC_RE.sub(r"\1", v) if "\\" in v else v
            elif v.endswith("i"):
                row[k] = int(v[:-1])
            elif v in ("t", "T", "true", "True"):
                row[k] = True
            elif v in ("f", "F", "false", "False"):
                row[k] = False
            else:
                row[k] = float(v)
        if ts is not None:
            row["ts"] = int(ts) // 1_000_000
        batch = out.setdefault(measurement, ProtocolBatch())
        batch.rows.append(row)
        batch.tag_keys |= tag_keys
    return out


def parse_line_protocol(text: str) -> dict[str, list[dict[str, Any]]]:
    """Flat rendering of :func:`parse_line_protocol_typed` (measurement →
    row dicts) for callers that don't need the tag/field split."""
    return {m: b.rows for m, b in parse_line_protocol_typed(text).items()}


_SHOW_TAG_VALUES_RE = re.compile(
    r'^\s*SHOW\s+TAG\s+VALUES\s+FROM\s+"?(\w+)"?\s+WITH\s+KEY\s*=\s*"?(\w+)"?\s*$',
    re.I,
)
_SHOW_FIELD_KEYS_RE = re.compile(r'^\s*SHOW\s+FIELD\s+KEYS\s+FROM\s+"?(\w+)"?\s*$', re.I)


def show_tag_values(
    tables: dict[str, DataFrame], measurement: str, key: str
) -> DataFrame:
    """InfluxQL ``SHOW TAG VALUES FROM m WITH KEY = k`` (beyond-reference:
    the reference's InfluxQL planner supports only SELECT and SHOW
    MEASUREMENTS, planner.rs:166-205; this is the InfluxDB-standard
    metadata statement).  Distributed distinct over the tag column — at
    scale a partial/final agg whose output is NDV-sized."""
    if measurement not in tables:
        raise KeyError(f"unknown measurement {measurement!r}")
    df = tables[measurement]
    if key not in df.columns:
        raise ValueError(f"unknown tag key {key!r}")
    return (
        df.select(F.lit(key).alias("key"), F.col(key).alias("value"))
        .distinct()
        .orderBy("value")
    )


def show_field_keys(tables: dict[str, DataFrame], measurement: str) -> list[tuple[str, str]]:
    """InfluxQL ``SHOW FIELD KEYS FROM m``: numeric (non-tag, non-time)
    columns with their Influx type names — schema metadata, driver-side."""
    if measurement not in tables:
        raise KeyError(f"unknown measurement {measurement!r}")
    out = []
    for f_ in tables[measurement].schema.fields:
        t = f_.dataType.typeName()
        if t in ("double", "float"):
            out.append((f_.name, "float"))
        elif t in ("long", "integer", "short", "byte"):
            out.append((f_.name, "integer"))
        elif t == "boolean":
            out.append((f_.name, "boolean"))
    return sorted(out)


def influxql_metadata(q: str, tables: dict[str, DataFrame]):
    """Dispatch InfluxQL metadata statements (SHOW MEASUREMENTS / TAG
    VALUES / FIELD KEYS); returns None for non-metadata statements so the
    caller can fall through to influxql_to_df."""
    if re.match(r"^\s*SHOW\s+MEASUREMENTS\s*$", q, re.I):
        return show_measurements(tables)
    m = _SHOW_TAG_VALUES_RE.match(q)
    if m:
        return show_tag_values(tables, m.group(1), m.group(2))
    m = _SHOW_FIELD_KEYS_RE.match(q)
    if m:
        return show_field_keys(tables, m.group(1))
    return None
