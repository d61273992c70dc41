"""Join-graph extraction from Catalyst's analyzed plan — adaptive ordering
for *arbitrary* queries.

The reference derives its join graph from any parsed query
(src/query/QueryInfo.java:336-363 extracts equi-join column pairs,
655-668 builds the connectivity map that prunes cartesian orders) and every
query then benefits from adaptive ordering. This module is the Spark
analogue: take the analyzed logical plan of ANY DataFrame — built from SQL
text or the DataFrame API — and recover

  * the maximal top-level inner-join subtree (its non-join children are the
    reorderable units: base tables, filtered scans, broadcast-hinted dims,
    even derived tables, each treated as one unit),
  * the conjunct pool (Join conditions + WHERE filters directly above the
    join), classified into per-leaf local filters, binary equi-join edges,
    and residual theta/post predicates,
  * the operators *above* the join (projections, aggregates, sorts, limits),
    replayed unchanged over the reordered chain.

The plan walk and the chain rebuild run in the JVM
(plans/java/skinner/PlanHelper.java, one py4j call each); this module
chooses the order. Everything stays in exprId space: leaves keep their
original subplans and conditions are re-applied as the original Catalyst
expressions, so self-joins and duplicate column names are unambiguous, and
no SQL round-tripping happens.

Ineligible shapes (outer joins, join hints on the chain, subqueries in the
conjunct pool, <3 leaves, disconnected graphs) raise ExtractionError and the
caller falls back to Catalyst's own plan — adaptivity must never change
semantics, only order.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from skinnerdb_spark.plans.joinorder import (
    AdaptiveJoinResult,
    JoinEdge,
    budgeted_count as _budgeted_count,
    connected_orders,
    greedy_orders,
    is_connected_order,
    score_orders,
)
from skinnerdb_spark.state import plan_helper

#: per-process cache of learned join orders, keyed by QueryGraph.cache_key
#: (the graph's canonical shape: sorted leaf names, sorted scan scopes,
#: sorted edges, no filter constants) — repeated templates (a benchmark
#: directory, a dashboard) skip scoring after the first run, the
#: cross-query analogue of the reference reusing its UCT tree across
#: episodes of one query. The scopes are the leaves' scan locations, so two
#: warehouses with identical table names never share an order. Nothing is
#: persisted: sampled C_out is a deterministic function of the seeded
#: sample, so a new process learns the same orders again (the reference,
#: too, keeps no learned state across sessions). Its one reader is
#: :func:`adaptive_reorder`: a learned order reaches Catalyst only as the
#: chain that function rebuilds. FIFO-capped: entries are a few strings
#: each, the cap only guards a pathological template generator.
_ORDER_CACHE: dict[tuple, tuple[str, ...]] = {}
_ORDER_CACHE_CAP = 4096

#: seed of the fact-leaf sample every scored candidate runs on
_SAMPLE_SEED = 42

#: process-lifetime observability for the adaptive tier (bench.py emits
#: these in its JSON so episode spend is visible per run): episodes =
#: sampled exploration executions actually run; cache_hits = orders served
#: from _ORDER_CACHE with no scoring.
_COUNTERS = {"episodes": 0, "cache_hits": 0}


def adaptive_counters() -> dict[str, int]:
    return dict(_COUNTERS)


def _cache_put(key: tuple, order: tuple[str, ...]) -> None:
    if key not in _ORDER_CACHE and len(_ORDER_CACHE) >= _ORDER_CACHE_CAP:
        _ORDER_CACHE.pop(next(iter(_ORDER_CACHE)))
    _ORDER_CACHE[key] = order


class ExtractionError(ValueError):
    """Query shape not eligible for adaptive reordering (caller falls back)."""


@dataclass
class QueryGraph:
    """Extracted reorderable join. The plans stay in the JVM (``jgraph``,
    a ``skinner.PlanHelper.Graph``: leaf plans with their local filters,
    the conditions and the parent operators to replay over the winning
    chain); Python holds the shape that order choice reads."""

    spark: SparkSession
    jgraph: Any
    names: list[str]
    edges: list[JoinEdge]
    #: tables each theta/multi-table conjunct needs; it is attached at the
    #: earliest chain position where all are bound (the reference's
    #: post-bind predicate placement, LeftDeepPlan.java:111-122)
    post_conds: list[frozenset[str]]
    #: Catalyst's size estimate of each leaf in bytes (no jobs run)
    sizes: dict[str, int]
    #: the largest leaf by ``sizes``, first in leaf order on ties
    fact: str
    #: order-cache key: sorted names, sorted scan scopes, sorted edge
    #: tuples (no filter constants) — same join graph on the same
    #: warehouse -> same template family, which shares one learned order
    cache_key: tuple = field(default=())
    #: leaves the user marked F.broadcast() — re-hinted at chain rebuild
    hinted: frozenset[str] = field(default=frozenset())
    #: per-leaf ROW-count estimates (see est_rows): bytes drive relative
    #: ordering, rows size the episode sample (fraction = sample_rows /
    #: fact rows)
    row_counts: dict[str, int] = field(default_factory=dict)

    def leaf(self, name: str) -> DataFrame:
        """Leaf ``name`` with its local filters, as a DataFrame."""
        return DataFrame(self.jgraph.leaf(self.names.index(name)), self.spark)

    def est_rows(self, name: str) -> int:
        """Best-available ROW-count estimate for a leaf, no jobs run.

        sizeInBytes//100 misclassifies wide tables (ADVICE r8: a multi-KB
        document row overshoots row count 10-100x, shrinking the episode
        sample 10-100x below ``sample_rows``), so prefer, in order:
        1. optimizer rowCount (present when CBO stats exist);
        2. parquet footer row counts from the leaf's input files — exact
           for the scan, an upper bound after filters, read driver-side
           without running a job (footers are KB-sized; sampled + scaled
           above 16 files so a 100 TB table costs 16 footer reads);
        3. the historical bytes//100 fallback.
        """
        if name in self.row_counts:
            return self.row_counts[name]
        ldf = self.leaf(name)
        est = 0
        try:
            rc = ldf._jdf.queryExecution().optimizedPlan().stats().rowCount()
            if rc.isDefined():
                est = int(str(rc.get()))
        except Exception:
            pass
        if est <= 0:
            try:
                files = ldf.inputFiles()
                if files:
                    import pyarrow.parquet as pq

                    sample = files[:16]
                    n = 0
                    for f in sample:
                        path = f[7:] if f.startswith("file://") else f
                        if not path.endswith((".parquet", ".pq")):
                            raise ValueError("non-parquet input")
                        n += pq.ParquetFile(path).metadata.num_rows
                    est = int(n * (len(files) / len(sample)))
            except Exception:
                est = 0
        if est <= 0:
            est = self.sizes[name] // 100
        est = max(1, est)
        self.row_counts[name] = est
        return est


def extract_query_graph(df: DataFrame) -> QueryGraph:
    """Recover the join graph from an analyzed DataFrame plan, in one JVM
    walk (``skinner.PlanHelper.extract``) and one summary read.

    Raises ExtractionError for any shape where reordering is not provably
    safe; the caller must then use the original DataFrame unchanged.
    """
    spark = df.sparkSession
    jgraph = plan_helper(spark).extract(df._jdf)
    s = json.loads(jgraph.summary())
    if s["reason"] is not None:
        raise ExtractionError(s["reason"])
    names = s["names"]
    edges = [JoinEdge(*e) for e in s["edges"]]
    return QueryGraph(
        spark=spark,
        jgraph=jgraph,
        names=names,
        edges=edges,
        post_conds=[frozenset(need) for need in s["post"]],
        sizes=dict(zip(names, s["sizes"])),
        fact=s["fact"],
        cache_key=(
            tuple(sorted(names)),
            tuple(sorted(s["scopes"])),
            tuple(sorted(tuple(e) for e in s["edges"])),
        ),
        hinted=frozenset(s["hinted"]),
    )


def _order_arg(graph: QueryGraph, order: tuple[str, ...]) -> str:
    """``order`` as the JVM side takes it (comma-separated leaf indices);
    refuses an order that is not connected."""
    if not is_connected_order(order, graph.names, graph.edges):
        raise ValueError(f"order {order} joins a table with no bound edge")
    return ",".join(str(graph.names.index(t)) for t in order)


def build_graph_chain(
    graph: QueryGraph, order: tuple[str, ...], sample: DataFrame | None = None
) -> DataFrame:
    """Left-deep chain in ``order`` with every conjunct attached at its
    earliest bound position; exprId-resolved conditions, so safe under
    duplicate names. Both edge attachment and post-cond placement depend
    only on the bound TABLE SET, never on the order within it — which is
    what lets joinorder.score_orders share one measurement between orders
    that bind the same sets in the same sequence.

    ``sample`` (a sample of ``graph.leaf(graph.fact)``) replaces the fact
    leaf in a scored episode's chain. Without it, the chain streams its
    largest input: a dimension-first order whose earlier leaves are all
    smaller than the fact leaf and together fit under
    ``spark.sql.autoBroadcastJoinThreshold`` hints the accumulated side for
    broadcast before the fact leaf joins, since Catalyst's product
    estimate would broadcast the fact table instead."""
    jsample = None if sample is None else sample._jdf
    return DataFrame(graph.jgraph.chain(_order_arg(graph, order), jsample), graph.spark)


def finish(graph: QueryGraph, chain: DataFrame) -> DataFrame:
    """Replay the parent operators over the reordered chain and pin the
    original output schema."""
    return DataFrame(graph.jgraph.finish(chain._jdf), graph.spark)


def adaptive_reorder(
    df: DataFrame,
    episodes: int = 4,
    sample_rows: int = 20_000,
    max_orders: int = 12,
    use_cache: bool = True,
    episode_budget_s: float | None = None,
) -> AdaptiveJoinResult:
    """Reorder any DataFrame's inner-join chain by sampled C_out.

    Extraction failure (ineligible shape) returns the original DataFrame
    with best_order=() — never an error. On a cache miss, the first
    ``episodes`` candidates (greedy seeds first, then the DFS enumeration)
    are scored by joinorder.score_orders: each runs once over a seeded
    sample of the fact table (size-capped at ~``sample_rows`` rows) and
    scores the sum of its join output rows; a candidate that binds the
    same table sets in the same sequence as an earlier one reuses its
    score and runs no job, and when all scored candidates share one
    sequence the first wins without any sampled run (every EpisodeStats is
    then ``predetermined``; ``_COUNTERS["episodes"]`` counts measured
    candidates only). With ``episode_budget_s`` set, each episode is
    WALL-CLOCK bounded — overruns are cancelled via job-group interruption
    and rank last (joinorder.budgeted_count: the Spark idiom of the
    reference's 500-step episode budget,
    src/joining/JoinProcessor.java:109-152 + src/config/JoinConfig.java:22).
    The lowest-C_out order executes in full, unbudgeted, as a chain that
    streams its largest input (:func:`build_graph_chain`), and is cached under
    the graph's :attr:`QueryGraph.cache_key`.
    """
    # ops/test escape hatch: SKINNER_ADAPTIVE_DISABLE=1 turns every
    # adaptive wrapper into the identity (Catalyst's own order executes).
    # tools/gate_check.py uses it so plan fingerprints don't vary with the
    # learned-order cache state.
    if os.environ.get("SKINNER_ADAPTIVE_DISABLE") == "1":
        return AdaptiveJoinResult(df, (), reason="disabled via SKINNER_ADAPTIVE_DISABLE")
    try:
        graph = extract_query_graph(df)
    except ExtractionError as e:
        return AdaptiveJoinResult(df, (), reason=str(e))

    cands = connected_orders(graph.names, graph.edges, max_orders=max_orders)
    if not cands:
        return AdaptiveJoinResult(df, (), reason="no connected left-deep order")

    # cache lookup happens BEFORE any sampling: a hit (the common case for
    # benchmark directories and dashboards) pays just the chain rebuild.
    # Template-family reuse: a query with the same join graph but different
    # filter constants inherits the learned order (the reference learns per
    # query; cross-template reuse is the Spark-first trade — per-order
    # *physical* strategy still adapts at runtime via AQE, so a selectivity
    # flip costs little). Validity — not membership in the first max_orders
    # DFS candidates — gates a hit: a winner that entered via the greedy
    # seeds (the 8-way-join case the seeds exist for) is absent from the DFS
    # prefix, and a membership check would silently discard it and re-score
    # on every execution (ADVICE r7)
    cached = _ORDER_CACHE.get(graph.cache_key) if use_cache else None
    if cached is not None and is_connected_order(cached, graph.names, graph.edges):
        _COUNTERS["cache_hits"] += 1
        return AdaptiveJoinResult(_rebuild(graph, cached), cached, reason="cached")
    if len(cands) == 1:
        return AdaptiveJoinResult(_rebuild(graph, cands[0]), cands[0])

    # candidates: selectivity-greedy seeds, then the DFS enumeration —
    # scored in list order, so with few episodes the duel is between the
    # greedy seeds
    seeds = greedy_orders(graph.names, graph.edges, graph.sizes)
    cands = seeds + [c for c in cands if c not in seeds]

    @functools.cache
    def sample() -> DataFrame:
        # sampled episodes: shrink the fact side to ~sample_rows using the
        # best-available row estimate (footer/CBO-backed — the bytes//100
        # guess over-shrank the sample fraction on wide tables, ADVICE r8).
        # Drawn on the first measured candidate only: a predetermined
        # decision reads no row estimate
        fraction = min(1.0, sample_rows / graph.est_rows(graph.fact))
        leaf = graph.leaf(graph.fact)
        return leaf.sample(fraction=fraction, seed=_SAMPLE_SEED) if fraction < 1.0 else leaf

    best, stats = score_orders(
        cands,
        lambda o: build_graph_chain(graph, o, sample()),
        episodes,
        episode_budget_s,
        count=_budgeted_count,
    )
    _COUNTERS["episodes"] += sum(e.measured for e in stats)
    if use_cache:
        _cache_put(graph.cache_key, best)
    return AdaptiveJoinResult(_rebuild(graph, best), best, stats)


def _rebuild(graph: QueryGraph, order: tuple[str, ...]) -> DataFrame:
    """``finish(graph, build_graph_chain(graph, order))`` in one JVM call:
    the plan a chosen order executes."""
    return DataFrame(graph.jgraph.rebuild(_order_arg(graph, order)), graph.spark)
