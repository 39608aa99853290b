"""Structured Streaming ingest: source → (auto-create / auto-evolve) →
sequenced append into the time-partitioned table.

The reference's high-rate write path is WAL → memtable → flush
(src/analytic_engine/src/instance/write.rs) with durable replay
(wal_replayer.rs); protocol writes auto-create tables and auto-add columns
from the payload (src/query_frontend/src/planner.rs:426
build_schema_from_write_table_request; src/proxy/src/write.rs:176-260).

Spark rendering:
- the checkpointed streaming query replaces the WAL (exactly-once
  micro-batch replay from the source);
- ``foreachBatch`` appends through Table.write, so every micro-batch gets
  one monotonic ``__seq`` — dedup order for Overwrite tables is total — and
  is written by a Spark job (a micro-batch is not a driver-held batch);
- auto-create infers the TSDB schema from the batch schema (strings →
  TAG, like the protocol writes); auto-evolve adds new nullable columns.

Protocol requests (line protocol, remote write, OpenTSDB put, gRPC) take
``ingest_rows`` instead: the request is parsed on the driver, its rows
become one Arrow table and one JVM local relation (``table.batch_frame``,
no Python worker), and ``Table.write`` writes it on the driver with no
Spark job, one parquet file per leaf the request touches — the memtable
flush straight to an SST.  A batch past ``table.DRIVER_WRITE_MAX_VALUES``
values is written by a Spark job instead, which is faster at that size.  Each column's kind is picked over the whole
batch: int64 and double widen to double, any other mix is rejected naming
the column.

Late/out-of-order data needs no special handling: rows land in whichever
time segment their timestamp belongs to and the Overwrite dedup resolves
duplicates at read, matching the reference (merge.rs:126).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from incubator_horaedb_spark.catalog import TableOptions
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.schema import ColumnSchema, TableSchema
from incubator_horaedb_spark.table import Table, batch_frame

_SPARK_TO_KIND = {
    "string": "string",
    "double": "double",
    "float": "float",
    "long": "int64",
    "bigint": "int64",
    "integer": "int32",
    "int": "int32",
    "short": "int16",
    "byte": "int8",
    "boolean": "boolean",
    "binary": "varbinary",
    "timestamp": "timestamp",
    "date": "date",
}


def infer_table_schema(
    df_schema: T.StructType, ts_col: str, tag_cols: list[str] | None = None
) -> TableSchema:
    """build_schema_from_write_table_request analogue (planner.rs:426):
    unspecified tag set → every string column is a TAG."""
    cols = []
    for f in df_schema.fields:
        kind = _SPARK_TO_KIND.get(f.dataType.typeName())
        if kind is None:
            raise ValueError(f"cannot ingest column {f.name!r} of type {f.dataType}")
        is_tag = f.name in tag_cols if tag_cols is not None else (
            kind == "string" and f.name != ts_col
        )
        cols.append(ColumnSchema(name=f.name, kind=kind, is_tag=is_tag))
    return TableSchema(columns=cols, timestamp_column=ts_col)


def ensure_table(
    engine: Engine,
    table_name: str,
    batch_df: DataFrame,
    ts_col: str,
    tag_cols: list[str] | None = None,
    options: TableOptions | None = None,
) -> None:
    """Auto-create or auto-evolve (write.rs:176-260, execute_add_columns_plan)."""
    if not engine.catalog.exists(table_name):
        schema = infer_table_schema(batch_df.schema, ts_col, tag_cols)
        engine.catalog.create_table(table_name, schema, options, if_not_exists=True)
        return
    known = {c.name for c in engine.catalog.get(table_name).schema.columns}
    added = []
    for f in batch_df.schema.fields:
        if f.name not in known:
            kind = _SPARK_TO_KIND.get(f.dataType.typeName())
            if kind is None:
                raise ValueError(f"cannot evolve with column {f.name!r}: {f.dataType}")
            added.append(ColumnSchema(name=f.name, kind=kind, is_tag=False))
    _add_columns(engine, table_name, added)


def _add_columns(engine: Engine, table_name: str, columns: list[ColumnSchema]) -> None:
    """Add the columns the table still lacks (execute_add_columns_plan).

    The check and the schema change run on the meta read under the
    catalog lock, so two requests evolving one table at once both land,
    and neither writes back a stale ``next_seq``."""
    if not columns:
        return

    def add(meta) -> None:
        for c in columns:
            if all(k.name != c.name for k in meta.schema.columns):
                meta.schema = meta.schema.add_column(c)

    engine.catalog.update(table_name, add)


# field kind of each Python value type the protocol parsers produce
_PY_KIND = {
    bool: "boolean",
    int: "int64",
    float: "double",
    str: "string",
    bytes: "varbinary",
    bytearray: "varbinary",
}


def _py_kind(col: str, v) -> str:
    kind = _PY_KIND.get(type(v))
    if kind is None:
        raise ValueError(f"column {col!r}: cannot ingest {v!r}")
    return kind


def _widen_kind(col: str, a: str, b: str) -> str:
    """The one rule for a field seen with two kinds in one batch: int64 and
    double make double (stored exactly while |v| <= 2**53); any other mix
    is an error naming the column."""
    if a == b:
        return a
    if {a, b} == {"int64", "double"}:
        return "double"
    raise ValueError(f"column {col!r} mixes {a} and {b} values")


def _batch_kinds(rows: list[dict], ts_col: str) -> dict[str, str]:
    """Each column's kind over every row of the batch, columns in
    first-seen order.  ``ts_col`` holds epoch milliseconds; a column that
    is None in every row is a string."""
    kinds: dict[str, str | None] = {}
    for r in rows:
        for k, v in r.items():
            if v is None:
                kinds.setdefault(k, None)
                continue
            kind = _py_kind(k, v)
            prev = kinds.get(k)
            if prev != kind:
                kinds[k] = kind if prev is None else _widen_kind(k, prev, kind)
    return {
        k: "timestamp" if k == ts_col else (kind or "string") for k, kind in kinds.items()
    }


def ingest_rows(
    engine: Engine,
    table_name: str,
    rows: list[dict],
    *,
    ts_col: str = "ts",
    tag_cols: list[str] | None = None,
    options: TableOptions | None = None,
) -> int:
    """Write one request's parsed protocol rows (ms-epoch ``ts``, tag
    strings, value fields) into ``table_name``, auto-creating/evolving
    first — the shared tail of every protocol write path (line protocol,
    remote write, OpenTSDB put, gRPC): proxy/src/write.rs:176-260.
    Returns the row count.

    Each column's kind is picked over all rows: int64 and double mix to
    double, and any other mix raises ValueError naming the column, as do
    integers past int64.  The rows become one Arrow-backed batch
    (``table.batch_frame``), written on the driver with no Spark job (up to
    ``table.DRIVER_WRITE_MAX_VALUES`` values) as one parquet file per leaf
    the request touches.

    ``tag_cols`` should come from the protocol parser's tag/field split
    (ProtocolBatch.tag_keys) — tags define the series key (tsid), so they
    must not be guessed from value types.  The string-valued fallback
    (every column with a string kind) exists only for callers with no tag
    information."""
    kinds = _batch_kinds(rows, ts_col)
    mdf = batch_frame(engine.spark, rows, kinds)
    if tag_cols is None:
        tag_cols = [c for c, kind in kinds.items() if kind == "string" and c != ts_col]
    ensure_table(engine, table_name, mdf, ts_col, tag_cols, options)
    Table(engine.spark, engine.catalog, table_name).write(mdf)
    return len(rows)


def start_ingest(
    engine: Engine,
    stream_df: DataFrame,
    table_name: str,
    *,
    ts_col: str,
    checkpoint_dir: str,
    tag_cols: list[str] | None = None,
    options: TableOptions | None = None,
    trigger_available_now: bool = True,
):
    """Start the checkpointed ingest query.  With availableNow the query
    drains the current source backlog and stops — the batch-maintenance
    pattern; pass False for a continuous micro-batch ingest."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ensure_table(engine, table_name, batch_df, ts_col, tag_cols, options)
        Table(engine.spark, engine.catalog, table_name).write(batch_df)

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_KIND_TO_SPARK = {
    "string": T.StringType(),
    "double": T.DoubleType(),
    "int64": T.LongType(),
    "boolean": T.BooleanType(),
}


def _probe_lines(it):
    """mapInPandas stage 1: per-partition schema discovery — emit the
    distinct (measurement, column, is_tag, kind) tuples seen in this
    partition's lines.  Output is tiny (one row per distinct column), so
    the driver-side collect is metadata-sized regardless of batch bytes."""
    import pandas as pd

    from incubator_horaedb_spark.frontends.influxql import parse_line_protocol_typed

    for pdf in it:
        recs: set[tuple] = set()
        for text in pdf["line"]:
            if not text:
                continue
            for meas, batch in parse_line_protocol_typed(text).items():
                for row in batch.rows:
                    for k, v in row.items():
                        if k == "ts":
                            continue
                        is_tag = k in batch.tag_keys
                        recs.add((meas, k, is_tag, "string" if is_tag else _py_kind(k, v)))
        yield pd.DataFrame(
            list(recs), columns=["measurement", "col", "is_tag", "kind"]
        )


def _make_measurement_parser(measurement: str, colnames: list[str]):
    """mapInPandas stage 2: parse this partition's lines and emit the rows
    of one measurement, columns aligned to the (already ensured) table
    schema.  Parsing runs on executors; the driver never sees row data."""

    def parse(it):
        import pandas as pd

        from incubator_horaedb_spark.frontends.influxql import parse_line_protocol_typed

        for pdf in it:
            out: list[tuple] = []
            for text in pdf["line"]:
                if not text:
                    continue
                batch = parse_line_protocol_typed(text).get(measurement)
                if batch is None:
                    continue
                for row in batch.rows:
                    out.append(tuple(row.get(c) for c in colnames))
            yield pd.DataFrame(out, columns=colnames, dtype=object)

    return parse


def start_line_protocol_ingest(
    engine: Engine,
    stream_df: DataFrame,
    *,
    checkpoint_dir: str,
    line_col: str = "value",
    options: TableOptions | None = None,
    trigger_available_now: bool = True,
):
    """InfluxDB line-protocol write path as a streaming ingest
    (src/proxy/src/influxdb/types.rs:1-903: measurement → table, tags →
    TAG columns, fields → values, auto-create on first write).

    Fully distributed: each micro-batch is (1) schema-probed with a
    mapInPandas pass whose output is one row per distinct column — only
    that metadata reaches the driver, which runs auto-create/evolve — then
    (2) parsed and appended per measurement with a second mapInPandas pass
    aligned to the ensured schema.  The batch is cached across the passes,
    so a k-measurement batch costs k cheap re-parses of cached lines, not
    k source reads.  Unlike the reference's proxy (proxy/src/write.rs),
    which builds rows on the receiving node, no row data ever funnels
    through the driver — batches far larger than driver memory ingest
    fine."""
    from pyspark.sql import functions as F

    from incubator_horaedb_spark.table import Table

    def process(batch_df: DataFrame, batch_id: int) -> None:
        lines = (
            batch_df.select(F.col(line_col).alias("line"))
            .filter(F.col("line").isNotNull() & (F.col("line") != ""))
            .persist()
        )
        try:
            probe = lines.mapInPandas(
                _probe_lines,
                schema="measurement string, col string, is_tag boolean, kind string",
            ).collect()
            if not probe:
                return
            # resolve per-(measurement, col): tag wins over field reading
            # (a key can't be both in one line set); field kinds widen by
            # the rule ingest_rows uses
            plan: dict[str, dict[str, tuple[bool, str]]] = {}
            for r in probe:
                cols = plan.setdefault(r["measurement"], {})
                prev = cols.get(r["col"])
                if prev is None:
                    cols[r["col"]] = (r["is_tag"], r["kind"])
                elif prev[0] or r["is_tag"]:
                    cols[r["col"]] = (True, "string")
                else:
                    cols[r["col"]] = (False, _widen_kind(r["col"], prev[1], r["kind"]))
            for measurement, cols in plan.items():
                tags = sorted(c for c, (t, _) in cols.items() if t)
                fields = sorted(c for c, (t, _) in cols.items() if not t)
                schema_cols = [ColumnSchema(name="ts", kind="timestamp")] + [
                    ColumnSchema(name=c, kind=cols[c][1], is_tag=cols[c][0])
                    for c in tags + fields
                ]
                _ensure_table_columns(engine, measurement, schema_cols, "ts", options)
                colnames = ["ts"] + tags + fields
                out_schema = T.StructType(
                    [T.StructField("ts", T.LongType(), True)]
                    + [
                        T.StructField(c, _KIND_TO_SPARK[cols[c][1]], True)
                        for c in tags + fields
                    ]
                )
                rows_df = lines.mapInPandas(
                    _make_measurement_parser(measurement, colnames), schema=out_schema
                ).withColumn("ts", F.timestamp_millis(F.col("ts")))
                Table(engine.spark, engine.catalog, measurement).write(rows_df)
        finally:
            lines.unpersist()

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ensure_table_columns(
    engine: Engine,
    table_name: str,
    columns: list[ColumnSchema],
    ts_col: str,
    options: TableOptions | None,
) -> None:
    """ensure_table over an explicit column list (no sample DataFrame
    needed) — auto-create or add missing columns (write.rs:176-260)."""
    if not engine.catalog.exists(table_name):
        engine.catalog.create_table(
            table_name,
            TableSchema(columns=columns, timestamp_column=ts_col),
            options,
            if_not_exists=True,
        )
        return
    known = {c.name for c in engine.catalog.get(table_name).schema.columns}
    _add_columns(engine, table_name, [c for c in columns if c.name not in known])
