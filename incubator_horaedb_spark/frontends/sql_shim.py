"""SQL dialect shim + statement interpreters — the Spark rendering of the
reference's query_frontend (parser.rs:140-870 custom dialect) and
interpreters (src/interpreters/src/factory.rs:42-100).

Handled statements (grammar per parser.rs and the sqlness corpus):

    CREATE TABLE [IF NOT EXISTS] t (
        col type [NOT NULL] [TAG] [dictionary] [COMMENT '...'] [DEFAULT lit],
        ...,
        [PRIMARY KEY (c1, ..., ts),]
        timestamp KEY (ts)
    ) [ENGINE = Analytic] [WITH (k='v', ...)]
      [PARTITION BY [LINEAR] KEY (tag_cols) PARTITIONS n | PARTITION BY RANDOM PARTITIONS n]
    DROP TABLE [IF EXISTS] t
    INSERT INTO t [(cols)] VALUES (...), (...)
    DESCRIBE t           → (name, type, is_primary, is_nullable, is_tag)
    SHOW TABLES / SHOW CREATE TABLE t / EXISTS TABLE t
    ALTER TABLE t ADD COLUMN (col type [TAG])
    SELECT ... / EXPLAIN ...   → delegated to Spark SQL over dedup-read views

TypeConversion parity (logical_optimizer/type_conversion.rs:295-355):
integer literals inserted into / compared against the timestamp key are
interpreted as millisecond epochs.

Case sensitivity: backtick-quoted mixed-case identifiers are honored —
``spark.sql.caseSensitive`` is enabled for the duration of each statement
(basic.sql:43-54 corpus behaviour).
"""

from __future__ import annotations

import re
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_horaedb_spark.catalog import Catalog, TableOptions
from incubator_horaedb_spark.schema import ColumnSchema, TableSchema
from incubator_horaedb_spark.serving import (
    Limiter,
    StatementInfo,
    validate_partition_table_access,
)
from incubator_horaedb_spark.table import Table

_IDENT = r"`(?:[^`]+)`|[A-Za-z_][\w]*"


def _strip_leading_comments(stmt: str) -> str:
    """Drop LEADING `--` / (nested, Spark 3+) `/* */` comments and
    whitespace so the statement-head dispatch classifies `/* hint */
    SELECT ...` as a SELECT (r8 review #3: clients — and mysql drivers'
    connection probes — lead statements with comments).  Only the leading
    span is removed; Spark lexes interior comments itself."""
    i, n = 0, len(stmt)
    while i < n:
        ch = stmt[i]
        if ch.isspace():
            i += 1
            continue
        if ch == "-" and stmt[i : i + 2] == "--":
            j = stmt.find("\n", i)
            if j < 0:
                return ""
            i = j + 1
            continue
        if ch == "/" and stmt[i : i + 2] == "/*":
            depth, j = 1, i + 2
            while j < n and depth:
                if stmt[j : j + 2] == "/*":
                    depth += 1
                    j += 2
                elif stmt[j : j + 2] == "*/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            i = j
            continue
        break
    return stmt[i:]


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if ident.startswith("`") and ident.endswith("`"):
        return ident[1:-1]
    return ident


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    out, depth, cur, in_str = [], 0, [], None
    for ch in s:
        if in_str:
            cur.append(ch)
            if ch == in_str:
                in_str = None
            continue
        if ch in "'\"":
            in_str = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return [x.strip() for x in out if x.strip()]


def _extract_parens(s: str, open_idx: int) -> tuple[str, str]:
    """Given the index of an '(' in s, return (inner_body, tail_after_close),
    respecting nesting and quoted strings."""
    depth, in_str = 0, None
    for i in range(open_idx, len(s)):
        ch = s[i]
        if in_str:
            if ch == in_str:
                in_str = None
            continue
        if ch in "'\"":
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return s[open_idx + 1 : i], s[i + 1 :]
    raise ValueError("unbalanced parentheses")


def _find_top_level(s: str, pattern: str, flags: int = re.I) -> re.Match | None:
    """First regex match at paren-depth 0 outside string literals."""
    depth, in_str = 0, None
    rx = re.compile(pattern, flags)
    i = 0
    while i < len(s):
        ch = s[i]
        if in_str:
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in "'\"":
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = rx.match(s, i)
            if m:
                return m
        i += 1
    return None


def _output_alias(item: str) -> str:
    """Output column name of a top-level select-list item: explicit AS
    alias, trailing bare identifier, or the last dotted segment."""
    m = re.search(rf"\bAS\s+({_IDENT})\s*$", item, re.I)
    if m:
        return m.group(1)
    m = re.match(rf"^({_IDENT})(\s*\.\s*({_IDENT}))?$", item.strip())
    if m:
        return m.group(3) or m.group(1)
    raise ValueError(
        f"QUALIFY rewrite: cannot derive an output name for select item "
        f"{item!r} — alias it with AS"
    )


def rewrite_qualify(sql: str) -> str:
    """Rewrite the QUALIFY clause (window-function filtering — DuckDB /
    BigQuery / Snowflake dialect; Spark SQL has no QUALIFY) into the
    standard nested-subquery form:

        SELECT <list> FROM ... QUALIFY <pred> [ORDER BY ...] [LIMIT n]
      → SELECT <names> FROM (SELECT <list>, (<pred>) AS __qualify FROM ...)
        WHERE __qualify [ORDER BY ...] [LIMIT n]

    The predicate is evaluated INSIDE the subquery, so its window
    functions see the original FROM — exactly QUALIFY's semantics
    (filter after windows, before ORDER/LIMIT).  Restrictions, enforced
    loudly: the select list must not be bare ``*`` (output names must be
    derivable) and every computed item needs an AS alias."""
    q = _find_top_level(sql, r"\bQUALIFY\b")
    if q is None:
        return sql
    head, rest = sql[: q.start()].rstrip(), sql[q.end() :]
    t = _find_top_level(rest, r"\b(ORDER\s+BY|LIMIT)\b")
    pred, tail = (rest[: t.start()], rest[t.start() :]) if t else (rest, "")
    m = _find_top_level(head, r"\bSELECT\b")
    if m is None or m.start() != 0 and head[: m.start()].strip():
        raise ValueError("QUALIFY rewrite: statement must start with SELECT")
    f = _find_top_level(head, r"\bFROM\b")
    if f is None:
        raise ValueError("QUALIFY rewrite: no top-level FROM")
    select_list = head[m.end() : f.start()].strip()
    if select_list == "*":
        raise ValueError("QUALIFY rewrite: SELECT * is not supported — name columns")
    names = ", ".join(_output_alias(i) for i in _split_top_level(select_list))
    inner = (
        f"SELECT {select_list}, ({pred.strip()}) AS __qualify "
        f"{head[f.start():]}"
    )
    return f"SELECT {names} FROM (\n{inner}\n) __qualify_q WHERE __qualify {tail}".rstrip()


_COLDEF_RE = re.compile(
    rf"^({_IDENT})\s+([A-Za-z][\w]*)(.*)$",
    re.S,
)


_ESCAPE_CHARS = {
    "n": "\n", "t": "\t", "r": "\r", "b": "\b", "Z": "\x1a",
    "\\": "\\", "'": "'", '"': '"',
}


def unescape_sql_string(body: str, quote: str) -> str:
    """Decode a quoted SQL string body the way spark.sql does (verified
    empirically, Hive-style): doubled quotes, backslash char escapes
    (\\n \\t \\r \\b \\Z \\\\ \\' \\"), 1-3 digit octal, ``\\%``/``\\_``
    kept verbatim (LIKE escapes), unknown ``\\x`` → ``x``.  The INSERT
    path must store exactly what a spark.sql WHERE comparing the same
    literal would see — the round-trip parity class of the r7 review."""
    out: list[str] = []
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if ch == quote and i + 1 < n and body[i + 1] == quote:
            out.append(quote)
            i += 2
            continue
        if ch == "\\" and i + 1 < n:
            nxt = body[i + 1]
            if nxt in ("%", "_"):
                out.append("\\" + nxt)  # LIKE escapes survive
                i += 2
                continue
            if nxt in "01234567":
                j = i + 1
                while j < n and j < i + 4 and body[j] in "01234567":
                    j += 1
                out.append(chr(int(body[i + 1 : j], 8)))
                i = j
                continue
            out.append(_ESCAPE_CHARS.get(nxt, nxt))
            i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _parse_literal(tok: str) -> Any:
    tok = tok.strip()
    up = tok.upper()
    if up == "NULL":
        return None
    if up in ("TRUE", "FALSE"):
        return up == "TRUE"
    if tok[:1] in "'\"" and tok[-1:] == tok[:1]:
        # decode exactly like spark.sql would for the same literal in a
        # WHERE (doubled quotes AND backslash escapes) — INSERT-stored
        # values must round-trip through spark.sql comparisons
        return unescape_sql_string(tok[1:-1], tok[:1])
    if re.fullmatch(r"[+-]?\d+", tok):
        return int(tok)
    if re.fullmatch(r"[+-]?\d*\.\d+([eE][+-]?\d+)?|[+-]?\d+[eE][+-]?\d+", tok):
        return float(tok)
    if up.startswith("X'") and tok.endswith("'"):
        return bytes.fromhex(tok[2:-1])
    raise ValueError(f"unsupported literal {tok!r}")


def _extract_query_range_ms(stmt: str, ts_cols: set[str]) -> int | None:
    """Extracted scan time range for the limiter's QueryRange rule
    (limiter.rs should_limit → QueryPlan::query_range): the span between
    the statement's integer-epoch lower and upper bounds on a timestamp
    key.  None when either bound is missing — unbounded/unknown ranges are
    NOT blocked, matching the reference (query_range() None → no block)."""
    lo = hi = None
    for name in ts_cols:
        ident = rf"(?:`{re.escape(name)}`|\b{re.escape(name)}\b)"
        for m in re.finditer(
            rf"{ident}\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)", stmt, re.I
        ):
            a, b = int(m.group(1)), int(m.group(2))
            lo = a if lo is None else max(lo, a)
            hi = b if hi is None else min(hi, b)
        for m in re.finditer(rf"{ident}\s*(>=|>)\s*(\d+)", stmt, re.I):
            v = int(m.group(2))
            lo = v if lo is None else max(lo, v)
        for m in re.finditer(rf"{ident}\s*(<=|<)\s*(\d+)", stmt, re.I):
            v = int(m.group(2))
            hi = v if hi is None else min(hi, v)
    if lo is None or hi is None:
        return None
    return max(hi - lo, 0)


class Engine:
    """The interpreter dispatcher (factory.rs analogue): one engine per
    (SparkSession, storage root)."""

    def __init__(self, spark: SparkSession, root: str, schema: str = "public"):
        self.spark = spark
        self.catalog = Catalog(root, schema)
        # execute_sql toggles session-global conf (caseSensitive) around
        # each statement; concurrent HTTP threads interleaving save/restore
        # could strand the conf or run a statement under the wrong
        # sensitivity, so statement setup is serialized.  Heavy work
        # (collect/write jobs) happens on the returned DataFrame outside
        # the lock.
        # Measured negative result: a prototype giving each Engine its own
        # spark.newSession() (caseSensitive set once, no lock, views only
        # for referenced tables) cut the perfbench `dashboard` median
        # read_p50_ms from 2.79 s to 1.00 s, but raised write_p50_ms
        # 746 -> 954 ms (+28%) and heap_live_mb 99.8 -> 110.6 MB (+11%) in
        # every one of 4 alternating pairs (seeds 1-4), both past their
        # bounds — likely the faster closed-loop readers loading the cores
        # the control writer shares.  Revisit once the benchmark separates
        # reader load from its control writer.
        self._lock = threading.RLock()
        # request blocking (proxy limiter.rs + interpreters validator.rs)
        self.limiter = Limiter()
        self.enable_partition_table_access = False

    def table(self, name: str) -> Table:
        if not self.catalog.exists(name):
            raise ValueError(f"no such table {name!r}")
        return Table(self.spark, self.catalog, name)

    # ----------------------------------------------------------- dispatch --
    def execute_sql(self, sql: str) -> DataFrame | int | None:
        """Parse + interpret one statement.  Returns a DataFrame for
        queries/DESCRIBE/SHOW, an affected-row count for INSERT, None for
        other DDL/DML."""
        with self._lock:
            return self._execute_sql_locked(sql)

    def _execute_sql_locked(self, sql: str) -> DataFrame | int | None:
        stmt = _strip_leading_comments(sql.strip().rstrip(";").strip())
        low = stmt.lower()
        info = self._statement_info(stmt, low)
        # pre-execution gate (validator.rs validate + limiter.rs try_limit)
        validate_partition_table_access(
            info, enable_partition_table_access=self.enable_partition_table_access
        )
        self.limiter.try_limit(info)
        old_cs = self.spark.conf.get("spark.sql.caseSensitive")
        self.spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            if low.startswith("create table"):
                return self._create_table(stmt)
            if low.startswith("drop table"):
                return self._drop_table(stmt)
            if low.startswith("insert"):
                return self._insert(stmt)
            if low.startswith(("describe", "desc ")):
                return self._describe(stmt)
            if low.startswith("show tables"):
                return self._show_tables(stmt)
            if low.startswith("show databases"):
                return self._show_databases()
            if low.startswith("show create table"):
                return self._show_create(stmt)
            if low.startswith("exists table"):
                return self._exists(stmt)
            if low.startswith("alter table"):
                return self._alter(stmt)
            if low.startswith("explain analyze"):
                return self._explain_analyze(stmt)
            if low.startswith(("select", "with", "explain")):
                return self._query(stmt)
            raise ValueError(f"unsupported statement: {stmt[:80]!r}")
        finally:
            self.spark.conf.set("spark.sql.caseSensitive", old_cs)

    # --------------------------------------------------------------- DDL --
    def _create_table(self, stmt: str) -> None:
        # CTAS (beyond-reference, pairs with INSERT..SELECT): CREATE TABLE t
        # [ENGINE=..] [WITH (...)] AS SELECT ... — schema inferred from the
        # query result; the single timestamp-typed column becomes the key.
        cm = re.match(
            rf"^create\s+table\s+(if\s+not\s+exists\s+)?({_IDENT})\s*"
            rf"(engine\s*=\s*\w+\s*)?(with\s*\(([^)]*)\)\s*)?as\s+(select\s.+|with\s.+)$",
            stmt,
            re.I | re.S,
        )
        if cm:
            name = _unquote(cm.group(2))
            if self.catalog.exists(name):
                if cm.group(1):
                    return
                raise ValueError(f"table {name!r} already exists")
            df = self._query(cm.group(6))
            ts_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp"]
            if len(ts_cols) != 1:
                raise ValueError(
                    f"CTAS needs exactly one timestamp column for the key, got {ts_cols}"
                )
            from incubator_horaedb_spark.streaming.ingest import infer_table_schema

            opts = TableOptions.from_with_options(
                dict(
                    kv.split("=", 1)
                    for kv in (
                        p.strip().replace("'", "").replace('"', "")
                        for p in _split_top_level(cm.group(5) or "")
                    )
                    if "=" in kv
                )
            )
            schema = infer_table_schema(df.schema, ts_cols[0], tag_cols=[])
            self.catalog.create_table(name, schema, opts)
            Table(self.spark, self.catalog, name).write(df)
            self.register_views()
            return

        head = re.match(
            rf"^create\s+table\s+(if\s+not\s+exists\s+)?({_IDENT})\s*\(", stmt, re.I
        )
        if not head:
            raise ValueError(f"cannot parse CREATE TABLE: {stmt[:120]!r}")
        if_not_exists = bool(head.group(1))
        name = _unquote(head.group(2))
        # balanced-paren extraction of the column body (a greedy regex would
        # swallow the WITH(...) clause and silently drop table options)
        body, tail = _extract_parens(stmt, head.end() - 1)
        # ENGINE / WITH / PARTITION BY appear in either order (the cluster
        # corpus writes PARTITION BY ... ENGINE ... WITH, the common corpus
        # the reverse) — extract each independently, then require nothing
        # unrecognized to remain.
        with_body = part_cols = part_n = None
        part_method, part_linear = "key", False
        rest = tail
        m = re.search(r"engine\s*=\s*\w+", rest, re.I)
        if m:
            rest = rest[: m.start()] + rest[m.end() :]
        m = re.search(r"with\s*\(([^)]*)\)", rest, re.I | re.S)
        if m:
            with_body = m.group(1)
            rest = rest[: m.start()] + rest[m.end() :]
        # PARTITION BY strategies (parser.rs:583-601): RANDOM, [LINEAR] KEY.
        # [LINEAR] HASH parses in the reference too but the rule factory
        # rejects it ("unsupported partition strategy", factory.rs:39-45) —
        # mirrored here at CREATE time.
        m = re.search(
            r"partition\s+by\s+(linear\s+)?key\s*\(([^)]*)\)\s*(partitions\s+(\d+))?",
            rest, re.I,
        )
        if m:
            part_linear, part_cols, part_n = bool(m.group(1)), m.group(2), m.group(4)
            rest = rest[: m.start()] + rest[m.end() :]
        else:
            m = re.search(r"partition\s+by\s+random\s*(partitions\s+(\d+))?", rest, re.I)
            if m:
                part_method, part_n = "random", m.group(2)
                rest = rest[: m.start()] + rest[m.end() :]
            else:
                m = re.search(r"partition\s+by\s+(linear\s+)?hash\s*\(", rest, re.I)
                if m:
                    raise ValueError(
                        "unsupported partition strategy: HASH (factory.rs:39)"
                    )
        if rest.strip():
            raise ValueError(f"cannot parse CREATE TABLE tail: {rest.strip()[:120]!r}")

        columns: list[ColumnSchema] = []
        ts_key: str | None = None
        primary_key: list[str] = []
        for item in _split_top_level(body):
            il = item.lower()
            if il.startswith("timestamp key"):
                ts_key = _unquote(re.search(r"\(([^)]*)\)", item).group(1))
                continue
            if il.startswith("primary key"):
                primary_key = [
                    _unquote(c) for c in re.search(r"\(([^)]*)\)", item).group(1).split(",")
                ]
                continue
            cm = _COLDEF_RE.match(item)
            if not cm:
                raise ValueError(f"cannot parse column def {item!r}")
            cname, ctype, rest = _unquote(cm.group(1)), cm.group(2).lower(), cm.group(3)
            # inline `t timestamp NOT NULL TIMESTAMP KEY` (create_tables.sql
            # corpus; exactly one timestamp key per table — schema.rs:628)
            ts_inline = re.search(r"\btimestamp\s+key\b(?!\s*\()", rest, re.I)
            if ts_inline:
                if ts_key is not None:
                    raise ValueError("table already has a timestamp key")
                ts_key = cname
                rest = rest[: ts_inline.start()] + rest[ts_inline.end() :]
            comment_m = re.search(r"comment\s+'([^']*)'", rest, re.I)
            if comment_m:
                rest = rest[: comment_m.start()] + rest[comment_m.end() :]
            # DEFAULT takes the remainder of the column def: expression
            # defaults like `default 1 + 1` / `default c3*2 + 1` are kept as
            # SQL text and evaluated at write time (planner.rs:908
            # insert_to_plan default-value exprs)
            default_m = re.search(r"\bdefault\s+(.+)$", rest, re.I | re.S)
            if default_m:
                rest = rest[: default_m.start()]
            rl = rest.lower()
            columns.append(
                ColumnSchema(
                    name=cname,
                    kind=ctype,
                    is_tag=bool(re.search(r"\btag\b", rl)),
                    is_nullable=not re.search(r"\bnot\s+null\b", rl),
                    is_dictionary=bool(re.search(r"\bdictionary\b", rl)),
                    comment=comment_m.group(1) if comment_m else "",
                    default_value=default_m.group(1).strip() if default_m else None,
                )
            )
        if ts_key is None:
            raise ValueError("table must declare `timestamp KEY (col)`")  # schema.rs:628

        opts = {}
        if with_body:
            for kv in _split_top_level(with_body):
                k, v = kv.split("=", 1)
                opts[k.strip()] = v.strip()
        options = TableOptions.from_with_options(opts)
        if part_cols:
            options.partition_keys = [_unquote(c) for c in part_cols.split(",")]
            options.num_partitions = int(part_n) if part_n else 4
            options.partition_method = "key"
            options.partition_linear = part_linear
            # partition keys must exist and be tags (parser.rs:667-684)
            by_name = {c.name: c for c in columns}
            for k in options.partition_keys:
                if k not in by_name:
                    raise ValueError(f"partition key contains non-existent column:{k}")
                if not by_name[k].is_tag:
                    raise ValueError(f"partition key must be tag, key name:{k!r}")
        elif part_method == "random":
            options.partition_method = "random"
            options.num_partitions = int(part_n) if part_n else 1

        schema = TableSchema(columns=columns, timestamp_column=ts_key, primary_key=primary_key)
        self.catalog.create_table(name, schema, options, if_not_exists=if_not_exists)
        return None

    def _drop_table(self, stmt: str) -> None:
        m = re.match(rf"^drop\s+table\s+(if\s+exists\s+)?({_IDENT})\s*$", stmt, re.I)
        if not m:
            raise ValueError(f"cannot parse DROP TABLE: {stmt!r}")
        name = _unquote(m.group(2))
        self.catalog.drop_table(name, if_exists=bool(m.group(1)))
        # the view registered for an earlier statement would otherwise keep
        # serving the dropped table (stale files, or an empty relation)
        self.spark.catalog.dropTempView(self._view_name(name))
        return None

    def _alter(self, stmt: str) -> None:
        # ALTER TABLE x MODIFY SETTING k='v'[, ...]
        # (ast.rs AlterModifySetting; corpus env/cluster/ddl/alter_table.sql:43-49)
        ms = re.match(
            rf"^alter\s+table\s+({_IDENT})\s+modify\s+setting\s+(.*)$", stmt, re.I | re.S
        )
        if ms:
            name = _unquote(ms.group(1))
            meta = self.catalog.get(name)
            new_opts: dict[str, str] = {}
            for kv in _split_top_level(ms.group(2)):
                km = re.match(r"^\s*(\w+)\s*=\s*'([^']*)'\s*$", kv)
                if not km:
                    raise ValueError(f"cannot parse MODIFY SETTING item {kv!r}")
                new_opts[km.group(1).lower()] = km.group(2)
            # only the named settings change; unknown keys land in extra,
            # like the reference's unrecognized options (write_buffer_size)
            meta.options.apply_with_options(new_opts)
            self.catalog.update(meta)
            return None
        m = re.match(
            rf"^alter\s+table\s+({_IDENT})\s+add\s+column\s*\((.*)\)\s*$", stmt, re.I | re.S
        )
        if not m:
            raise ValueError(
                f"only ALTER TABLE ... ADD COLUMN (...) / MODIFY SETTING supported: {stmt!r}"
            )
        name = _unquote(m.group(1))
        meta = self.catalog.get(name)
        schema = meta.schema
        for item in _split_top_level(m.group(2)):
            cm = _COLDEF_RE.match(item)
            cname, ctype, rest = _unquote(cm.group(1)), cm.group(2).lower(), cm.group(3)
            if cname in (schema.primary_key or []) or cname == schema.timestamp_column:
                raise ValueError("cannot alter primary key")  # plan.rs:55-56
            schema = schema.add_column(
                ColumnSchema(
                    name=cname,
                    kind=ctype,
                    is_tag=bool(re.search(r"\btag\b", rest.lower())),
                    is_dictionary=bool(re.search(r"\bdictionary\b", rest.lower())),
                )
            )
        meta.schema = schema
        self.catalog.update(meta)
        return None

    # --------------------------------------------------------------- DML --
    def _insert(self, stmt: str) -> int:
        # INSERT INTO t [(cols)] SELECT ... — beyond-reference convenience
        # (the reference rejects non-VALUES sources, planner.rs:1212
        # InsertSourceBodyNotSet): materializes a query result through the
        # normal write path, e.g. persisting a filtered corpus.  Fully
        # distributed — the SELECT plan streams into the partitioned
        # parquet write, no driver materialization.
        ms = re.match(
            rf"^insert\s+into\s+(?:table\s+)?({_IDENT})\s*(\(([^)]*)\))?\s*"
            rf"(select\s+.+|with\s+.+)$",
            stmt,
            re.I | re.S,
        )
        if ms:
            name = _unquote(ms.group(1))
            meta = self.catalog.get(name)
            df = self._query(ms.group(4))
            if ms.group(3):
                df = df.toDF(*[_unquote(c) for c in ms.group(3).split(",")])
            else:
                df = df.toDF(*[c.name for c in meta.schema.columns][: len(df.columns)])
            # write first, then count the written batch by its sequence
            # number — a parquet-stats count, so the SELECT evaluates once
            seq = Table(self.spark, self.catalog, name).write(df)
            from incubator_horaedb_spark.schema import SEQ_COLUMN

            return (
                self.spark.read.parquet(self.catalog.data_dir(name))
                .filter(F.col(SEQ_COLUMN) == seq)
                .count()
            )

        # optional TABLE keyword: `INSERT INTO TABLE t ...` (alter_table.sql)
        m = re.match(
            rf"^insert\s+into\s+(?:table\s+)?({_IDENT})\s*(\(([^)]*)\))?\s*values\s*(.+)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse INSERT: {stmt[:120]!r}")
        name = _unquote(m.group(1))
        meta = self.catalog.get(name)
        schema = meta.schema
        cols = (
            [_unquote(c) for c in m.group(3).split(",")]
            if m.group(3)
            else [c.name for c in schema.columns]
        )
        rows = []
        for tup in _split_top_level(m.group(4)):
            if not (tup.startswith("(") and tup.endswith(")")):
                raise ValueError(f"bad VALUES tuple {tup!r}")
            vals = [_parse_literal(v) for v in _split_top_level(tup[1:-1])]
            if len(vals) != len(cols):
                raise ValueError("VALUES arity mismatch")
            rows.append(dict(zip(cols, vals)))
        return self.insert_rows(name, cols, rows)

    def insert_rows(self, name: str, cols: list[str], rows: list[dict]) -> int:
        """Write python-typed ``rows`` (dicts keyed by ``cols``) into table
        ``name`` with the INSERT path's type coercions — shared by VALUES
        and the wire bulk loaders (PG COPY FROM STDIN, MySQL LOAD DATA
        LOCAL).  An empty batch is a no-op (COPY of an empty file must not
        trigger the first-flush samplers on zero rows).

        Takes the engine lock (reentrant — the VALUES path arrives with it
        held): the wire servers are thread-per-connection, and Table.write's
        first-flush sampler re-reads + writes back table meta, so two
        unserialized bulk loads into a fresh table could clobber the seq
        counter (r9 review #2)."""
        if not rows:
            return 0
        with self._lock:
            return self._insert_rows_locked(name, cols, rows)

    def _insert_rows_locked(self, name: str, cols: list[str], rows: list[dict]) -> int:
        meta = self.catalog.get(name)
        schema = meta.schema
        fields = []
        for c in cols:
            col_schema = schema.column(c)
            if col_schema.kind == "timestamp":
                # ms-integer epoch literals (TypeConversion parity)
                fields.append(T.StructField(c, T.LongType(), True))
            elif col_schema.kind in ("double", "float"):
                fields.append(T.StructField(c, T.DoubleType(), True))
            elif col_schema.kind == "varbinary":
                fields.append(T.StructField(c, T.BinaryType(), True))
            elif col_schema.kind in ("string",):
                fields.append(T.StructField(c, T.StringType(), True))
            elif col_schema.kind == "boolean":
                fields.append(T.StructField(c, T.BooleanType(), True))
            else:
                fields.append(T.StructField(c, T.LongType(), True))
        for r in rows:
            for c in cols:
                kind = schema.column(c).kind
                if kind in ("double", "float") and isinstance(r[c], int):
                    r[c] = float(r[c])
                elif kind == "varbinary" and isinstance(r[c], str):
                    # the reference accepts string literals for varbinary
                    # columns (cases/common/basic.sql varbinary round-trip)
                    r[c] = r[c].encode("utf-8")
        df = self.spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], T.StructType(fields)
        )
        for c in cols:
            if schema.column(c).kind == "timestamp":
                df = df.withColumn(c, F.timestamp_millis(F.col(c)))
        Table(self.spark, self.catalog, name).write(df)
        return len(rows)  # affected_rows (golden basic.result: INSERT → n)

    # ------------------------------------------------------------ queries --
    # Spark temp-view names cannot contain '.', but the reference accepts
    # dotted table names (OpenTSDB metrics like `sys.load` become tables,
    # queried with backticks).  Views for such tables are registered under
    # a mangled name and backtick-quoted references are rewritten.
    @staticmethod
    def _view_name(table: str) -> str:
        return table.replace(".", "__dot__")

    DEFAULT_CATALOG = "horaedb"  # catalog/src/consts.rs:24 DEFAULT_CATALOG

    def register_views(self) -> None:
        for t in self.catalog.list_tables():
            Table(self.spark, self.catalog, t).read().createOrReplaceTempView(
                self._view_name(t)
            )
        # system.public.tables (system_catalog/src/tables.rs:51-91: timestamp,
        # catalog, schema, table_name, table_id, engine).  The reference's
        # own integration case is disabled with a TODO ("Couldn't find table
        # in table container", system_tables.sql:30); here it works.
        metas = [self.catalog.get(t) for t in self.catalog.list_tables()]
        sys_rows = [
            (
                m.created_at_ms,
                self.DEFAULT_CATALOG,
                self.catalog.schema,
                m.name,
                i + 1,
                "Analytic",
            )
            for i, m in enumerate(metas)
        ]
        sdf = self.spark.createDataFrame(
            sys_rows,
            "timestamp long, catalog string, schema string, table_name string, "
            "table_id long, engine string",
        ).withColumn("timestamp", F.timestamp_millis(F.col("timestamp")))
        sdf.createOrReplaceTempView("__system_tables")

    def _query(self, stmt: str) -> DataFrame:
        from incubator_horaedb_spark.functions.sql_bindings import (
            register_sql_functions,
            rewrite_sql_functions,
        )

        self.register_views()
        register_sql_functions(self.spark)
        # EXPLAIN VERBOSE (DataFusion: show every optimizer pass — corpus
        # dml/issue-1087.sql) → Spark's EXPLAIN EXTENDED (parsed/analyzed/
        # optimized/physical), the closest all-stages rendering.
        stmt = re.sub(r"^explain\s+verbose\b", "EXPLAIN EXTENDED", stmt, flags=re.I)
        for t in self.catalog.list_tables():
            if "." in t:
                stmt = stmt.replace(f"`{t}`", f"`{self._view_name(t)}`")
        # system catalog table reference → registered view
        stmt = re.sub(
            r"\bsystem\s*\.\s*public\s*\.\s*tables\b",
            "__system_tables",
            stmt,
            flags=re.I,
        )
        return self.spark.sql(
            self._coerce_ts_literals(rewrite_qualify(rewrite_sql_functions(stmt)))
        )

    def _explain_analyze(self, stmt: str) -> DataFrame:
        """EXPLAIN ANALYZE: run the query and return the executed plan with
        runtime metrics (query-plan.sql:38-66 asserts scan/prune counters
        from this surface; Spark's SQLMetrics are the counter source)."""
        from incubator_horaedb_spark.plans.metrics import render_analyze

        inner = re.sub(r"^explain\s+analyze\s+", "", stmt, flags=re.I)
        text = render_analyze(self._query(inner))
        return self.spark.createDataFrame([(line,) for line in text.splitlines()], "plan string")

    _JOIN_RE = re.compile(rf"\bjoin\s+({_IDENT})", re.I)
    _FROM_RE = re.compile(r"\bfrom\b", re.I)
    # what ends a FROM clause at its own paren depth
    _FROM_END_RE = re.compile(
        r"\b(?:where|group|order|having|limit|union|except|intersect|window|qualify)\b",
        re.I,
    )
    _LEAD_IDENT_RE = re.compile(rf"({_IDENT})")
    _SQL_STRING_RE = re.compile(r"'(?:[^']|'')*'")

    def _target_names(self, stmt: str) -> set[str]:
        """Names in table position: every JOIN target and the leading
        identifier of every comma-separated FROM item (``FROM a, b x``).
        Derived tables / subquery parens don't match the identifier; the
        FROM clauses inside them are scanned in their own right."""
        text = self._SQL_STRING_RE.sub("''", stmt)
        names = [m.group(1) for m in self._JOIN_RE.finditer(text)]
        for m in self._FROM_RE.finditer(text):
            depth = 0
            for end in range(m.end(), len(text) + 1):
                ch = text[end : end + 1]
                depth += (ch == "(") - (ch == ")")
                if not ch or depth < 0 or (depth == 0 and self._FROM_END_RE.match(text, end)):
                    break
            for item in _split_top_level(text[m.end() : end]):
                lead = self._LEAD_IDENT_RE.match(item)
                if lead:
                    names.append(lead.group(1))
        return {_unquote(n).replace("__dot__", ".") for n in names}

    def _referenced_tables(self, stmt: str) -> set[str]:
        """Catalog tables named in the statement's FROM/JOIN lists."""
        return {t for t in self._target_names(stmt) if self.catalog.exists(t)}

    def _statement_info(self, stmt: str, low: str) -> StatementInfo:
        """Build the limiter/validator's view of the statement
        (the text-frontend analogue of Plan inspection in limiter.rs
        should_limit / validator.rs contains_sub_tables)."""
        if low.startswith(("select", "with", "explain")):
            tables = self._target_names(stmt)
            ts_cols = {
                self.catalog.get(t).schema.timestamp_column
                for t in tables
                if self.catalog.exists(t)
            }
            return StatementInfo(
                kind="query",
                tables=tables,
                has_predicate=bool(re.search(r"\bwhere\b", low)),
                query_range_ms=_extract_query_range_ms(stmt, ts_cols),
            )
        if low.startswith("insert"):
            m = re.match(rf"^insert\s+into\s+(?:table\s+)?({_IDENT})", stmt, re.I)
            return StatementInfo(
                kind="insert", tables={_unquote(m.group(1))} if m else set()
            )
        for kw, pat in (
            ("create", rf"^create\s+table\s+(?:if\s+not\s+exists\s+)?({_IDENT})"),
            ("drop", rf"^drop\s+table\s+(?:if\s+exists\s+)?({_IDENT})"),
            ("alter", rf"^alter\s+table\s+({_IDENT})"),
            ("describe", rf"^(?:describe|desc)\s+({_IDENT})\s*$"),
            ("show_create", rf"^show\s+create\s+table\s+({_IDENT})\s*$"),
        ):
            m = re.match(pat, stmt, re.I)
            if m:
                return StatementInfo(kind=kw, tables={_unquote(m.group(1))})
        return StatementInfo(kind="other")

    def _coerce_ts_literals(self, stmt: str) -> str:
        """TypeConversion analyzer parity (type_conversion.rs:48-370):
        integer literals compared against a timestamp-key column are
        **millisecond** epochs — Spark's implicit cast would read them as
        seconds (or refuse), so wrap them in timestamp_millis().  Handles
        binary comparisons, BETWEEN, and IN lists; string literals need no
        rewrite (Spark casts string↔timestamp natively).

        The reference runs this in the analyzer with *resolved* column
        types; a text rewrite must approximate that scope, so it only
        considers the timestamp keys of tables actually referenced in this
        statement's FROM/JOIN list (a same-named bigint column in an
        unrelated catalog table must not trigger it) and never rewrites
        inside string literals."""
        ts_cols = {
            self.catalog.get(t).schema.timestamp_column
            for t in self._referenced_tables(stmt)
        }
        if not ts_cols:
            return stmt
        parts, last = [], 0
        for m in self._SQL_STRING_RE.finditer(stmt):
            parts.append(self._coerce_segment(stmt[last : m.start()], ts_cols))
            parts.append(m.group(0))
            last = m.end()
        parts.append(self._coerce_segment(stmt[last:], ts_cols))
        return "".join(parts)

    def _coerce_segment(self, stmt: str, ts_cols: set[str]) -> str:
        for name in ts_cols:
            ident = rf"(?:`{re.escape(name)}`|\b{re.escape(name)}\b)"
            wrap = lambda n: f"timestamp_millis({n})"
            stmt = re.sub(
                rf"({ident})\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)",
                lambda m: f"{m.group(1)} BETWEEN {wrap(m.group(2))} AND {wrap(m.group(3))}",
                stmt,
                flags=re.I,
            )
            stmt = re.sub(
                rf"({ident})\s*(>=|<=|<>|!=|=|>|<)\s*(\d+)(?!\d*\s*[)]?\s*(?:AS|\w*\())",
                lambda m: f"{m.group(1)} {m.group(2)} {wrap(m.group(3))}",
                stmt,
                flags=re.I,
            )
            stmt = re.sub(
                rf"(\b\d+)\s*(>=|<=|<>|!=|=|>|<)\s*({ident})",
                lambda m: f"{wrap(m.group(1))} {m.group(2)} {m.group(3)}",
                stmt,
                flags=re.I,
            )
            stmt = re.sub(
                rf"({ident})\s+IN\s*\(\s*(\d+(?:\s*,\s*\d+)*)\s*\)",
                lambda m: "{} IN ({})".format(
                    m.group(1),
                    ", ".join(wrap(x.strip()) for x in m.group(2).split(",")),
                ),
                stmt,
                flags=re.I,
            )
        return stmt

    # ----------------------------------------------------------- metadata --
    def _describe(self, stmt: str) -> DataFrame:
        name = _unquote(stmt.split()[-1])
        schema = self.catalog.get(name).schema
        pk = set(schema.effective_primary_key)
        rows = [
            (c.name, c.kind, c.name in pk, c.is_nullable, c.is_tag, c.is_dictionary)
            for c in schema.columns
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, is_primary boolean, is_nullable boolean, "
            "is_tag boolean, is_dictionary boolean"
        )

    def _show_tables(self, stmt: str = "show tables") -> DataFrame:
        # SHOW TABLES [LIKE 'pat'] — SQL-LIKE pattern, '_'→'.' '%'→'.*',
        # anchored (show.rs:208-216 to_pattern_re; corpus
        # env/local/system/system_tables.sql `SHOW TABLES LIKE '01%'`)
        names = self.catalog.list_tables()
        m = re.match(r"^show\s+tables(?:\s+like\s+'([^']*)')?\s*$", stmt, re.I)
        if not m:
            raise ValueError(f"cannot parse SHOW TABLES: {stmt!r}")
        if m.group(1) is not None:
            pat = re.compile("^" + m.group(1).replace("_", ".").replace("%", ".*") + "$")
            names = [t for t in names if pat.match(t)]
        return self.spark.createDataFrame(
            [(t,) for t in names], "table_name string"
        )

    def _show_databases(self) -> DataFrame:
        # show.rs:284 ShowDatabases — our catalog is single-schema
        return self.spark.createDataFrame([(self.catalog.schema,)], "schema string")

    def _show_create(self, stmt: str) -> DataFrame:
        name = _unquote(stmt.split()[-1])
        meta = self.catalog.get(name)
        cols = []
        for c in meta.schema.columns:
            bits = [f"`{c.name}` {c.kind}"]
            if not c.is_nullable:
                bits.append("NOT NULL")
            if c.is_tag:
                bits.append("TAG")
            if c.is_dictionary:
                bits.append("dictionary")
            if c.default_value is not None:
                # default_value is raw SQL text (quotes included for strings)
                bits.append(f"DEFAULT {c.default_value}")
            if c.comment:
                # rendered last, matching the reference column order
                # (interpreters/src/show_create.rs:117-119)
                bits.append(f"COMMENT '{c.comment}'")
            cols.append(" ".join(bits))
        if meta.schema.primary_key:
            cols.append("PRIMARY KEY(" + ", ".join(f"`{c}`" for c in meta.schema.primary_key) + ")")
        elif meta.options.sampled_sort_key:
            # post-flush sampled key surfaces in SHOW CREATE exactly like
            # the reference (sampling-primary-key.result: PRIMARY
            # KEY(myVALUE,name,tsid,t) appears after the first flush)
            cols.append(
                "PRIMARY KEY(" + ", ".join(f"`{c}`" for c in meta.options.sampled_sort_key) + ")"
            )
        cols.append(f"timestamp KEY (`{meta.schema.timestamp_column}`)")
        o = meta.options
        with_opts = (
            f"update_mode='{o.update_mode}', enable_ttl='{str(o.enable_ttl).lower()}'"
        )
        part = ""
        if meta.options.partition_keys:
            keys = ", ".join(f"`{k}`" for k in meta.options.partition_keys)
            linear = "LINEAR " if meta.options.partition_linear else ""
            part = f" PARTITION BY {linear}KEY({keys}) PARTITIONS {meta.options.num_partitions}"
        elif meta.options.partition_method == "random" and meta.options.num_partitions > 0:
            part = f" PARTITION BY RANDOM PARTITIONS {meta.options.num_partitions}"
        ddl = (
            f"CREATE TABLE `{name}` ({', '.join(cols)}) ENGINE=Analytic{part} "
            f"WITH ({with_opts})"
        )
        return self.spark.createDataFrame([(name, ddl)], "table string, create_table string")

    def _exists(self, stmt: str) -> DataFrame:
        name = _unquote(stmt.split()[-1])
        return self.spark.createDataFrame(
            [(1 if self.catalog.exists(name) else 0,)], "result bigint"
        )
