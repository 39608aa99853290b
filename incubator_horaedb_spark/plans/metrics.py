"""Runtime plan counters — the EXPLAIN ANALYZE analogue.

The reference's explain-analyze surfaces per-operator runtime metrics and
the sqlness corpus asserts scan/prune behaviour from them
(integration_tests/cases/env/local/ddl/query-plan.sql:38-66: which queries
touch the memtable/SST, how many row groups were pruned).  Spark's
executed plan carries the same information as SQLMetrics on each physical
node — numFiles / numPartitions / numOutputRows on FileSourceScanExec are
the partition-prune counters (partition pruning happens at file listing,
so a pruned partition simply never reaches the scan).

``scan_counters`` runs the plan and returns per-scan counters;
``render_analyze`` renders the executed tree with metrics (the EXPLAIN
ANALYZE statement in frontends/sql_shim.py returns this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _node_metrics(node) -> dict[str, int]:
    out: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _walk(node, visit, depth: int = 0) -> None:
    cls = node.getClass().getSimpleName()
    visit(node, cls, depth)
    # AQE / query-stage wrappers hide the real subtree behind accessors
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), visit, depth + 1)
        return
    if "QueryStage" in cls:
        _walk(node.plan(), visit, depth + 1)
        return
    if cls == "ReusedExchangeExec":
        return
    ch = node.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), visit, depth + 1)


def executed_plan(df: DataFrame, *, run: bool = True):
    """The (AQE-final) executed physical plan, after running the query so
    SQLMetrics carry real values.  The run goes through a new Dataset over
    the same plan: a file scan sets its driver-side counters (files,
    partitions, bytes) once per physical plan and each run resets them, so
    a plan without an exchange that ran before would read 0 there."""
    if run:
        df = df.select("*")
        df.collect()
    return df._jdf.queryExecution().executedPlan()


def scan_counters(df: DataFrame, *, run: bool = True) -> list[dict]:
    """Per-scan runtime counters: files/partitions/rows read and bytes.

    ``partitions_read`` < the table's on-disk partition count is the
    partition-pruning assertion (query-plan.sql's pruned-row-group checks);
    ``files_read`` is the SST-count analogue."""
    scans: list[dict] = []

    def visit(node, cls, depth):
        if cls not in ("FileSourceScanExec", "BatchScanExec"):
            return
        m = _node_metrics(node)
        scans.append(
            {
                "files_read": m.get("numFiles", 0),
                "partitions_read": m.get("numPartitions"),
                "rows": m.get("numOutputRows", 0),
                "bytes_read": m.get("filesSize", 0),
            }
        )

    _walk(executed_plan(df, run=run), visit)
    return scans


def render_analyze(df: DataFrame, *, run: bool = True) -> str:
    """Indented executed-plan tree with runtime metrics — the reference's
    `metrics=[...]` rendering shape (analyzed output of query-plan.sql)."""
    lines: list[str] = []

    def visit(node, cls, depth):
        m = _node_metrics(node)
        metrics = ", ".join(f"{k}={v}" for k, v in sorted(m.items()))
        lines.append("  " * depth + node.nodeName() + (f" metrics=[{metrics}]" if metrics else ""))

    _walk(executed_plan(df, run=run), visit)
    return "\n".join(lines)
