"""Executed-plan metric collection — per-query stats parity with the
reference bench (src/benchmark/BenchUtil.java:66-79 emits 16 columns of
UCT/tuple counters; the Spark-meaningful equivalents are shuffle bytes,
spill, and peak operator memory, read from SQLMetrics after execution).

Walks the physical plan (through AQE and query-stage wrappers) and sums the
named SQLMetric values. Call only after an action has run the plan —
metrics are zero before execution.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

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


def _unwrap(node: Any) -> Any:
    """The plan inside AQE and query-stage shells (``node`` itself when it
    is neither)."""
    try:
        while True:
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                node = node.executedPlan()
            elif cls.endswith("QueryStageExec"):
                node = node.plan()
            else:
                return node
    except Exception:
        return node


def _iter_nodes(node: Any):
    """Yield every SparkPlan node, AQE and query-stage shells unwrapped.
    Children are walked by size()/apply(i): iterating a py4j collection to
    exhaustion costs a converted JVM exception per collection (see verify
    notes)."""
    node = _unwrap(node)
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _iter_nodes(kids.apply(i))


def join_rows(df: DataFrame) -> tuple[int, ...]:
    """Output rows of every join in the executed plan, innermost first
    (for a left-deep chain: the first join's output, then the next ...).
    Call after an action has run ``df``'s own plan."""
    out = []
    for node in _iter_nodes(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if name.endswith("Join") or name == "CartesianProduct":
            out.append(int(node.longMetric("numOutputRows").value()))
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
        root = df._jdf.queryExecution().executedPlan()
    except Exception:
        return out
    out["adaptive"] = root.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    for node in _iter_nodes(root):
        cls = node.getClass().getSimpleName()
        if "ShuffleExchange" in cls:
            out["shuffle_count"] += 1
        try:
            mit = node.metrics().iterator()
        except Exception:
            continue
        while mit.hasNext():
            t = mit.next()
            metric = t._2()
            name = metric.name().isDefined() and metric.name().get() or t._1()
            for frag, key in _METRIC_KEYS.items():
                if frag in str(name):
                    v = int(metric.value())
                    if v > 0:
                        out[key] += v
    return out


def plan_dot(df: DataFrame) -> str:
    """Graphviz DOT of the EXECUTED physical plan, each operator annotated
    with its output-row and timing SQLMetrics — the query-profile graph a
    production UI renders, as a text artifact (file-output parity with the
    UCT tree's explain_adaptive_dot). Run the plan first (e.g. via
    run_and_count) or the metric labels read 0.

    AQE / query-stage shells are unwrapped so the graph shows the plan that
    actually ran; edges point in DATA-FLOW direction (child -> parent)."""
    try:
        root = df._jdf.queryExecution().executedPlan()
    except Exception:
        return "digraph plan {}"
    lines = ["digraph plan {", "  rankdir=BT;", '  node [shape=box, fontsize=10];']
    counter = [0]

    def node_label(node: Any) -> str:
        cls = node.getClass().getSimpleName().replace("Exec", "")
        rows = time_ms = None
        try:
            mit = node.metrics().iterator()
            while mit.hasNext():
                t = mit.next()
                metric = t._2()
                name = str(
                    metric.name().isDefined() and metric.name().get() or t._1()
                )
                if name == "number of output rows":
                    rows = int(metric.value())
                elif "total time" in name or name.endswith("time in scan"):
                    time_ms = int(metric.value())
        except Exception:
            pass
        parts = [cls]
        if rows is not None:
            parts.append(f"rows={rows}")
        if time_ms is not None and time_ms > 0:
            parts.append(f"t={time_ms}ms")
        return "\\n".join(parts)

    def walk(node: Any) -> int:
        node = _unwrap(node)
        counter[0] += 1
        nid = counter[0]
        lines.append(f'  n{nid} [label="{node_label(node)}"];')
        kids = node.children()
        for i in range(kids.size()):
            lines.append(f"  n{walk(kids.apply(i))} -> n{nid};")
        return nid

    walk(root)
    lines.append("}")
    return "\n".join(lines)
