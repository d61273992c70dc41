"""Executed-plan metric collection — per-query stats parity with the
reference bench (src/benchmark/BenchUtil.java:66-79 emits 16 columns of
UCT/tuple counters; the Spark-meaningful equivalents are shuffle bytes,
spill, and peak operator memory, read from SQLMetrics after execution).

Reads the executed physical plan as one node table (the JVM walks it,
through AQE and query-stage wrappers) and folds the named SQLMetric values
over it. Call only after an action has run the plan — metrics are zero
before execution.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame

from skinnerdb_spark.state import plan_helper

#: metric-name fragments -> output keys (summed over all plan nodes)
_METRIC_KEYS = {
    "shuffle bytes written": "shuffle_write_bytes",
    "local bytes read": "shuffle_read_bytes",
    "remote bytes read": "shuffle_read_bytes",
    "spill size": "spill_bytes",
    "peak memory": "peak_mem_bytes",
}


def run_and_count(df: DataFrame) -> int:
    """Execute the DataFrame's OWN physical plan and return its row count.

    ``df.count()`` would plan a *separate* count-aggregate query — columns
    prune away, the real projections never execute, and the plan whose
    metrics we want stays cold. Executing the plan's row RDD and counting it
    runs the genuine plan distributed (per-partition counts summed on the
    executors — nothing materializes on the driver, unlike the previous
    ``executeCollect``, which would OOM the driver on a large result) and
    populates its SQLMetrics for :func:`plan_metrics`.
    """
    try:
        return int(df._jdf.queryExecution().executedPlan().execute().count())
    except Exception:
        return df.count()


def plan_nodes(df: DataFrame) -> dict[str, Any]:
    """The executed plan of ``df`` as one table, read in one py4j call:
    ``{"adaptive": bool, "nodes": [...]}``, nodes in pre-order with AQE and
    query-stage shells unwrapped, each ``{"class", "name", "parent",
    "metrics": {key: [display name, value]}}`` plus ``"scan"`` (root path)
    on a file scan. The walk runs in the JVM (``PlanHelper.executedNodes``).
    Call after an action has run the plan — metrics are zero before."""
    return json.loads(plan_helper(df.sparkSession).executedNodes(df._jdf))


def join_rows(df: DataFrame) -> tuple[int, ...]:
    """Output rows of every join in the executed plan, innermost first
    (for a left-deep chain: the first join's output, then the next ...).
    Call after an action has run ``df``'s own plan."""
    out = [
        node["metrics"]["numOutputRows"][1]
        for node in plan_nodes(df)["nodes"]
        if node["name"].endswith("Join") or node["name"] == "CartesianProduct"
    ]
    return tuple(reversed(out))


def plan_metrics(df: DataFrame) -> dict[str, int]:
    """Sum shuffle/spill/memory SQLMetrics over the executed plan.

    Returns {shuffle_count, shuffle_write_bytes, shuffle_read_bytes,
    spill_bytes, peak_mem_bytes, adaptive} — all 0 when the plan has not
    executed yet.
    """
    out = {
        "shuffle_count": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "peak_mem_bytes": 0,
        "adaptive": False,
    }
    try:
        plan = plan_nodes(df)
    except Exception:
        return out
    out["adaptive"] = plan["adaptive"]
    for node in plan["nodes"]:
        if "ShuffleExchange" in node["class"]:
            out["shuffle_count"] += 1
        for name, value in node["metrics"].values():
            for frag, key in _METRIC_KEYS.items():
                if frag in name and value > 0:
                    out[key] += value
    return out


def _dot_label(node: dict[str, Any]) -> str:
    rows = time_ms = None
    for name, value in node["metrics"].values():
        if name == "number of output rows":
            rows = value
        elif "total time" in name or name.endswith("time in scan"):
            time_ms = value
    parts = [node["class"].replace("Exec", "")]
    if rows is not None:
        parts.append(f"rows={rows}")
    if time_ms is not None and time_ms > 0:
        parts.append(f"t={time_ms}ms")
    return "\\n".join(parts)


def plan_dot(df: DataFrame) -> str:
    """Graphviz DOT of the EXECUTED physical plan, each operator annotated
    with its output-row and timing SQLMetrics — the query-profile graph a
    production UI renders, as a text artifact (file-output parity with the
    UCT tree's explain_adaptive_dot). Run the plan first (e.g. via
    run_and_count) or the metric labels read 0.

    AQE / query-stage shells are unwrapped so the graph shows the plan that
    actually ran; edges point in DATA-FLOW direction (child -> parent)."""
    try:
        nodes = plan_nodes(df)["nodes"]
    except Exception:
        return "digraph plan {}"
    kids: list[list[int]] = [[] for _ in nodes]
    for i, node in enumerate(nodes[1:], 1):
        kids[node["parent"]].append(i)
    lines = ["digraph plan {", "  rankdir=BT;", '  node [shape=box, fontsize=10];']

    def walk(i: int) -> None:
        lines.append(f'  n{i + 1} [label="{_dot_label(nodes[i])}"];')
        for k in kids[i]:
            walk(k)
            lines.append(f"  n{k + 1} -> n{i + 1};")

    walk(0)
    lines.append("}")
    return "\n".join(lines)
