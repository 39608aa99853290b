"""Serving-layer concerns: query priority scheduling, concurrent
identical-query dedup, and request blocking (limiter + plan validator).

- Priority (src/query_frontend/src/plan.rs:212-237 decide_query_priority +
  src/interpreters/src/select.rs:86-146 dual runtimes): queries whose
  scanned time range exceeds a threshold run on a low-priority runtime.
  Spark rendering: FAIR scheduler pools — the session is configured with an
  allocation file and ``spark.scheduler.pool`` is set per query thread.
- Query dedup (src/proxy/src/read.rs:89-165 dedup_handle_sql): identical
  concurrent SQL strings share one execution via a notifier map.
- Limiter (src/proxy/src/limiter.rs): per-table read/write block lists plus
  block rules (AnyQuery / AnyInsert / QueryWithoutPredicate /
  QueryRange(threshold)); blocked requests fail with the reference's error
  shape before any execution starts.
- Validator (src/interpreters/src/validator.rs:47-105): direct access to
  sub-partition tables (``__table_N``) is rejected unless
  enable_partition_table_access.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Any, Callable

HIGH_PRIORITY_POOL = "horaedb_high"
LOW_PRIORITY_POOL = "horaedb_low"

DEFAULT_TIME_RANGE_THRESHOLD_MS = 24 * 3600 * 1000


def decide_query_priority(
    time_range_ms: int | None, threshold_ms: int = DEFAULT_TIME_RANGE_THRESHOLD_MS
) -> str:
    """plan.rs:212-237: unbounded or wide time range ⇒ LOW priority."""
    if time_range_ms is None or time_range_ms >= threshold_ms:
        return "LOW"
    return "HIGH"


class PriorityExecutor:
    """Runs an action with the scheduler pool matching its priority.

    ``spark.scheduler.mode=FAIR`` plus a pools file gives low-priority
    queries a smaller share — the Spark analogue of the reference's
    dual-runtime split (select.rs:130-145)."""

    def __init__(self, spark):
        self.spark = spark

    def run(self, action: Callable[[], Any], *, time_range_ms: int | None) -> Any:
        pool = (
            HIGH_PRIORITY_POOL
            if decide_query_priority(time_range_ms) == "HIGH"
            else LOW_PRIORITY_POOL
        )
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            return action()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)


class BlockedError(Exception):
    """proxy/src/limiter.rs Error::{BlockedTable, BlockedByRule}."""


class PermissionDenied(Exception):
    """interpreters/src/interpreter.rs PermissionDenied."""


# table_engine/src/partition/mod.rs:312 — sub-partition tables are named
# with the "__" prefix (`__{table}_{index}`)
PARTITION_TABLE_PREFIX = "__"


def is_sub_partition_table(table_name: str) -> bool:
    return table_name.startswith(PARTITION_TABLE_PREFIX)


@dataclass
class StatementInfo:
    """The slice of plan information the limiter/validator consume —
    the text-frontend analogue of inspecting Plan/LogicalPlan."""

    kind: str  # "query" | "insert" | "create" | "drop" | ... | "other"
    tables: set[str] = field(default_factory=set)
    # the tables the statement reads: a query's ``tables``, the SELECT's
    # tables of an INSERT … SELECT or CTAS
    reads: set[str] = field(default_factory=set)
    has_predicate: bool = True
    # extracted scan time range (ms); None = unbounded/unknown — the
    # reference's QueryRange rule only fires on a *known* over-threshold
    # range (limiter.rs should_limit: query_range() None → no block)
    query_range_ms: int | None = None


def validate_partition_table_access(
    info: StatementInfo, *, enable_partition_table_access: bool = False
) -> None:
    """validator.rs:47-57 — reject plans touching sub-partition tables
    unless partition table access is enabled."""
    if enable_partition_table_access:
        return
    if any(is_sub_partition_table(t) for t in info.tables):
        raise PermissionDenied(
            "only can process sub tables in table partition directly when "
            "enable partition table access"
        )


class Limiter:
    """proxy/src/limiter.rs: block lists + block rules, checked before
    execution.  Rules are tuples: ("AnyQuery",), ("AnyInsert",),
    ("QueryWithoutPredicate",), ("QueryRange", threshold_ms)."""

    def __init__(
        self,
        write_block_list: list[str] | None = None,
        read_block_list: list[str] | None = None,
        rules: list[tuple] | None = None,
    ):
        self._lock = threading.RLock()
        self.write_block_list = set(write_block_list or [])
        self.read_block_list = set(read_block_list or [])
        self.rules = {tuple(r) for r in (rules or [])}

    # runtime re-config (limiter.rs add/remove methods used by the admin API)
    def block_read(self, *tables: str) -> None:
        with self._lock:
            self.read_block_list |= set(tables)

    def block_write(self, *tables: str) -> None:
        with self._lock:
            self.write_block_list |= set(tables)

    def unblock_read(self, *tables: str) -> None:
        with self._lock:
            self.read_block_list -= set(tables)

    def unblock_write(self, *tables: str) -> None:
        with self._lock:
            self.write_block_list -= set(tables)

    def set_read(self, tables: list[str]) -> None:
        with self._lock:
            self.read_block_list = set(tables)

    def set_write(self, tables: list[str]) -> None:
        with self._lock:
            self.write_block_list = set(tables)

    def set_rules(self, rules: list[tuple]) -> None:
        with self._lock:
            self.rules = {tuple(r) for r in rules}

    def snapshot(self) -> tuple[list[str], list[str], list[tuple]]:
        """(write_block_list, read_block_list, rules), sorted — the
        BlockResponse shape (handlers/admin.rs BTreeSet ordering)."""
        with self._lock:
            return (
                sorted(self.write_block_list),
                sorted(self.read_block_list),
                sorted(self.rules),
            )

    def add_rule(self, *rule) -> None:
        with self._lock:
            self.rules.add(tuple(rule))

    def remove_rule(self, *rule) -> None:
        with self._lock:
            self.rules.discard(tuple(rule))

    def try_limit(self, info: StatementInfo) -> None:
        """try_limit_by_block_list + try_limit_by_rules (limiter.rs:143-199);
        error messages mirror the reference's Display impls."""
        with self._lock:
            read_bl, write_bl = set(self.read_block_list), set(self.write_block_list)
            rules = set(self.rules)
        for t in sorted(info.reads & read_bl):
            raise BlockedError(
                f"Table operation is blocked, table:{t}, op:{info.kind}"
            )
        if info.kind == "insert":
            for t in sorted(info.tables & write_bl):
                raise BlockedError(
                    f"Table operation is blocked, table:{t}, op:{info.kind}"
                )
        for rule in sorted(rules):
            blocked = False
            if rule[0] == "AnyQuery":
                blocked = info.kind == "query"
            elif rule[0] == "AnyInsert":
                blocked = info.kind == "insert"
            elif rule[0] == "QueryWithoutPredicate":
                blocked = info.kind == "query" and not info.has_predicate
            elif rule[0] == "QueryRange":
                blocked = (
                    info.kind == "query"
                    and info.query_range_ms is not None
                    and info.query_range_ms > rule[1]
                )
            if blocked:
                raise BlockedError(
                    f"Table operation is blocked by rule:{rule}, op:{info.kind}"
                )


@dataclass
class _Inflight:
    event: threading.Event
    result: Any = None
    error: BaseException | None = None


class QueryDedup:
    """Concurrent identical-query dedup (read.rs:89-165): the first caller
    executes; followers arriving while it runs wait and share the result."""

    def __init__(self):
        self._lock = threading.Lock()
        self._inflight: dict[str, _Inflight] = {}
        self.executed = 0  # for tests/metrics: actual executions

    def run(self, key: str, compute: Callable[[], Any]) -> Any:
        with self._lock:
            entry = self._inflight.get(key)
            if entry is None:
                entry = _Inflight(event=threading.Event())
                self._inflight[key] = entry
                leader = True
            else:
                leader = False
        if leader:
            try:
                self.executed += 1
                entry.result = compute()
            except BaseException as e:  # noqa: BLE001 — propagate to followers too
                entry.error = e
                raise
            finally:
                with self._lock:
                    self._inflight.pop(key, None)
                entry.event.set()
            return entry.result
        entry.event.wait()
        if entry.error is not None:
            raise entry.error
        return entry.result
