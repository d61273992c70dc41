"""Join-graph extraction from Catalyst's analyzed plan — adaptive ordering
for *arbitrary* queries.

The reference derives its join graph from any parsed query
(src/query/QueryInfo.java:336-363 extracts equi-join column pairs,
655-668 builds the connectivity map that prunes cartesian orders) and every
query then benefits from adaptive ordering. This module is the Spark
analogue: walk the analyzed logical plan of ANY DataFrame — built from SQL
text or the DataFrame API — and recover

  * the maximal top-level inner-join subtree (its non-join children are the
    reorderable units: base tables, filtered scans, broadcast-hinted dims,
    even derived tables, each treated as one unit),
  * the conjunct pool (Join conditions + WHERE filters directly above the
    join), classified into per-leaf local filters, binary equi-join edges,
    and residual theta/post predicates,
  * the operators *above* the join (projections, aggregates, sorts, limits),
    replayed unchanged over the reordered chain.

Everything stays in exprId space: leaves become DataFrames via
``Dataset.ofRows`` on the original subplans, and conditions are re-applied
as Columns wrapping the original Catalyst expressions, so resolution is by
exprId — self-joins and duplicate column names are unambiguous, and no SQL
round-tripping happens.

Ineligible shapes (outer joins, join hints on the chain, subqueries in the
conjunct pool, <3 leaves, disconnected graphs) raise ExtractionError and the
caller falls back to Catalyst's own plan — adaptivity must never change
semantics, only order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession

from skinnerdb_spark.plans.joinorder import (
    AdaptiveJoinResult,
    JoinEdge,
    budgeted_count as _budgeted_count,
    connected_orders,
    greedy_orders,
    is_connected_order,
    score_orders,
)
from skinnerdb_spark.state import jvm_class

#: unary operators above the join subtree that replay unchanged over the
#: reordered chain (Filter is special-cased: directly above the join it is
#: absorbed into the conjunct pool instead)
_PASSTHROUGH = {
    "Project",
    "Aggregate",
    "Sort",
    "GlobalLimit",
    "LocalLimit",
    "Distinct",
    "Deduplicate",
    "Window",
    "Offset",
    "Tail",
}

#: per-process cache of learned join orders, keyed by QueryGraph.cache_key
#: (the graph's canonical shape: sorted leaf names, sorted scan scopes,
#: sorted edges, no filter constants) — repeated templates (a benchmark
#: directory, a dashboard) skip scoring after the first run, the
#: cross-query analogue of the reference reusing its UCT tree across
#: episodes of one query. The scopes are the leaves' scan locations, so two
#: warehouses with identical table names never share an order. Nothing is
#: persisted: sampled C_out is a deterministic function of the seeded
#: sample, so a new process learns the same orders again (the reference,
#: too, keeps no learned state across sessions). FIFO-capped: entries are
#: a few strings each, the cap only guards a pathological template
#: generator.
_ORDER_CACHE: dict[tuple, tuple[str, ...]] = {}
_ORDER_CACHE_CAP = 4096

#: bumped on every put into _ORDER_CACHE. Consumers that memoize "this
#: plan shape had no learned order" (the Catalyst rule's no-op memo,
#: plans/catalyst_rule.py) compare against this to invalidate their memo
#: when new orders are learned — otherwise a query shape first seen before
#: its order was learned would never be reordered for the rest of the
#: session (ADVICE r7).
_ORDER_CACHE_VERSION = 0


def order_cache_version() -> int:
    return _ORDER_CACHE_VERSION


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
    global _ORDER_CACHE_VERSION
    _ORDER_CACHE_VERSION += 1


class ExtractionError(ValueError):
    """Query shape not eligible for adaptive reordering (caller falls back)."""


def _j(spark: SparkSession, seq: Any) -> list:
    """Scala Seq -> Python list, by INDEX access — never by py4j iteration.

    Iterating a py4j Java collection ends with a JVM NoSuchElementException
    that pyspark converts through its exception-analysis machinery at ~30 ms
    per occurrence; a typical extraction iterates ~12 collections, which was
    ~90% of a measured 342 ms/query extraction cost. size()+get(i) performs
    the same traversal exception-free (measured: extraction drops to ~30 ms)."""
    jl = jvm_class(spark, "scala.jdk.javaapi.CollectionConverters").asJava(seq)
    return [jl.get(i) for i in range(jl.size())]


def _scala_seq(spark: SparkSession, items: list) -> Any:
    al = jvm_class(spark, "java.util.ArrayList")()
    for it in items:
        al.add(it)
    return jvm_class(spark, "scala.jdk.javaapi.CollectionConverters").asScala(al).toSeq()


def _of_rows(spark: SparkSession, plan: Any) -> DataFrame:
    jdf = jvm_class(spark, "org.apache.spark.sql.classic.Dataset").ofRows(
        spark._jsparkSession, plan
    )
    return DataFrame(jdf, spark)


def _col(spark: SparkSession, expr: Any) -> Column:
    from pyspark.sql.classic.column import Column as _CCol

    jc = jvm_class(spark, "org.apache.spark.sql.classic.ExpressionUtils").column(expr)
    return _CCol(jc)


def _cls(node: Any) -> str:
    # TreeNode.nodeName == getClass().getSimpleName (minus a trailing 'Exec'
    # for physical nodes — none traverse here) in ONE py4j round trip
    # instead of two; extraction calls this ~40x per query
    try:
        return node.nodeName()
    except Exception:
        return node.getClass().getSimpleName()


import re as _re

_ATTR_ID = _re.compile(r"#(\d+)")


def _attr_ids(seq: Any) -> list[int]:
    """exprIds of a Seq[Attribute] in ONE py4j call: Catalyst attribute
    toString is 'name#<id><typeSuffix>', so mkString + regex recovers every
    id without a per-attribute round trip (~20 calls saved per leaf). The
    LAST '#<digits>' of each token is the exprId — a '#' inside the column
    name itself cannot shadow it."""
    out: list[int] = []
    for token in seq.mkString("\x00").split("\x00"):
        ids = _ATTR_ID.findall(token)
        if ids:
            out.append(int(ids[-1]))
    return out


def _attr_name_id(attr: Any) -> tuple[str, int]:
    """(name, exprId) of an AttributeReference in one py4j call (toString is
    'name#<id><typeSuffix>'); falls back to direct accessors on surprise."""
    m = _re.match(r"(.*)#(\d+)[A-Za-z]*$", attr.toString())
    if m:
        return m.group(1), int(m.group(2))
    return attr.name(), attr.exprId().id()


def _split_conjuncts(expr: Any) -> list:
    if _cls(expr) == "And":
        return _split_conjuncts(expr.left()) + _split_conjuncts(expr.right())
    return [expr]


def _leaf_info(leaf: Any) -> tuple[str | None, str | None]:
    """(display_name, scan_scope): nearest SubqueryAlias under unary wrappers
    or the file-scan's path stem for the name (read_table-built leaves have
    no alias); the scan's FULL root path as the scope — the order-cache key
    embeds it so identical table names in different warehouses never share
    learned orders."""
    node, name = leaf, None
    while True:
        c = _cls(node)
        if c == "SubqueryAlias" and name is None:
            name = node.alias()
        if c == "LogicalRelation":
            try:
                head = node.relation().location().rootPaths().head()
                return name or head.getName().split(".")[0] or None, head.toString()
            except Exception:
                return name, None
        kids = node.children()
        if kids.size() != 1:
            return name, None
        node = kids.head()


@dataclass
class QueryGraph:
    """Extracted reorderable join: leaves, edges, residual predicates, and
    the parent operators to replay over the winning chain."""

    spark: SparkSession
    names: list[str]
    leaves: dict[str, DataFrame]
    edges: list[JoinEdge]
    edge_cols: list[Column]
    #: (tables needed, Column) — theta/multi-table conjuncts, attached at the
    #: earliest chain position where all referenced leaves are bound (the
    #: reference's post-bind predicate placement, LeftDeepPlan.java:111-122)
    post_conds: list[tuple[frozenset[str], Column]]
    sizes: dict[str, int]
    #: analyzed-plan nodes root -> ... -> parent-of-join, outermost first
    parents: list[Any]
    #: original root output attributes (schema pin for parentless queries)
    out_attrs: list[Any]
    #: order-cache key: sorted names, sorted scan scopes, sorted edge
    #: tuples (no filter constants) — same join graph on the same
    #: warehouse -> same template family, which shares one learned order
    cache_key: tuple = field(default=())
    #: leaves the user marked F.broadcast() — re-hinted at chain rebuild
    hinted: frozenset[str] = field(default=frozenset())
    #: per-leaf ROW-count estimates (see est_rows) — separate cache from
    #: the byte sizes: bytes drive relative ordering, rows size the
    #: episode sample (sampling fraction = sample_rows / fact rows)
    row_counts: dict[str, int] = field(default_factory=dict)

    def ensure_sizes(self) -> None:
        """Catalyst's size estimate of each leaf's analyzed plan (no jobs
        run). Read from the analyzed plan, which every leaf already has,
        not the optimized one: an optimizer pass costs ~3.5 ms a leaf on a
        4-core host, and for filtered scans both plans give the same bytes.
        Deferred until a learned order is scored or built."""
        if self.sizes:
            return
        for name, ldf in self.leaves.items():
            self.sizes[name] = int(
                ldf._jdf.queryExecution().analyzed().stats().sizeInBytes()
            )

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
        ldf = self.leaves[name]
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
            self.ensure_sizes()
            est = self.sizes.get(name, 0) // 100
        est = max(1, est)
        self.row_counts[name] = est
        return est

    @property
    def fact(self) -> str:
        self.ensure_sizes()
        return max(self.names, key=lambda n: self.sizes.get(n, 0))


def extract_query_graph(df: DataFrame) -> QueryGraph:
    """Recover the join graph from an analyzed DataFrame plan.

    Raises ExtractionError for any shape where reordering is not provably
    safe; the caller must then use the original DataFrame unchanged.
    """
    spark = df.sparkSession
    analyzed = df._jdf.queryExecution().analyzed()

    # -- descend through replayable parents to the topmost inner-join chain
    parents: list[Any] = []
    conjuncts: list[Any] = []

    def leads_to_join(node: Any) -> bool:
        while _cls(node) == "Filter":
            node = node.children().head()
        return _cls(node) == "Join"

    node = analyzed
    while True:
        c = _cls(node)
        if c == "Join":
            break
        if c == "Filter" and leads_to_join(node):
            conjuncts.extend(_split_conjuncts(node.condition()))
            node = node.children().head()
            continue
        if c in _PASSTHROUGH and node.children().size() == 1:
            parents.append(node)
            node = node.children().head()
            continue
        raise ExtractionError(f"no reorderable join under operator {c}")

    # -- flatten the inner-join subtree; non-join children are the leaves.
    # Broadcast hints (F.broadcast(dim)) are unwrapped here and re-applied at
    # chain-rebuild time: a ResolvedHint left on a STANDALONE leaf plan would
    # be analyzed hint-in-hand with no enclosing join (size estimation,
    # sampled episodes) and Catalyst drops it with a HintErrorLogger warning.
    leaf_plans: list[Any] = []
    leaf_hinted: list[bool] = []

    def flatten(jn: Any) -> None:
        if _cls(jn) == "Join":
            if jn.joinType().sql() != "INNER":
                raise ExtractionError(f"non-inner join: {jn.joinType().sql()}")
            if jn.hint().toString().strip():
                raise ExtractionError("join-level hint present; order is user-pinned")
            if jn.condition().isDefined():
                conjuncts.extend(_split_conjuncts(jn.condition().get()))
            for child in _j(spark, jn.children()):
                flatten(child)
        else:
            hinted = False
            while _cls(jn) == "ResolvedHint":
                h = jn.hints().toString().lower()
                if "broadcast" in h:
                    hinted = True
                else:
                    # a shuffle_hash/merge/rebroadcast pin is a user decision
                    # we cannot re-apply faithfully after reordering — refuse
                    # to reorder (same contract as the join-level-hint guard)
                    # rather than silently dropping it
                    raise ExtractionError(
                        f"leaf-level non-broadcast hint ({h.strip()}); "
                        "order is user-pinned"
                    )
                jn = jn.child()
            leaf_plans.append(jn)
            leaf_hinted.append(hinted)

    flatten(node)
    if len(leaf_plans) < 3:
        raise ExtractionError(f"only {len(leaf_plans)} join inputs; nothing to reorder")

    # -- name leaves (dedup aliases for self-joins) and map exprId -> leaf
    names: list[str] = []
    scopes: list[str] = []
    for i, lp in enumerate(leaf_plans):
        base, scope = _leaf_info(lp)
        base = base or f"t{i}"
        scopes.append(scope or "")
        name, k = base, 1
        while name in names:
            k += 1
            name = f"{base}__{k}"
        names.append(name)
    attr_leaf: dict[int, str] = {}
    for name, lp in zip(names, leaf_plans):
        for aid in _attr_ids(lp.output()):
            attr_leaf[aid] = name

    # -- classify the conjunct pool
    has_subquery = jvm_class(
        spark, "org.apache.spark.sql.catalyst.expressions.SubqueryExpression"
    )
    local_filters: dict[str, list[Any]] = {n: [] for n in names}
    edges: list[JoinEdge] = []
    edge_cols: list[Column] = []
    post_conds: list[tuple[frozenset[str], Column]] = []
    for cj in conjuncts:
        if has_subquery.hasSubquery(cj):
            raise ExtractionError("subquery inside join/filter condition")
        if not cj.deterministic():
            # a rand() < 0.1 conjunct evaluates per-row at a PLACE in the
            # plan; repositioning it changes which rows it sees. Catalyst's
            # own PushDownPredicates refuses to move these — so do we
            # (semantics-preservation contract, LeftDeepPlan.java:54-124)
            raise ExtractionError("non-deterministic conjunct; placement is semantics")
        refs = _attr_ids(cj.references().toSeq())
        if not all(r in attr_leaf for r in refs):
            raise ExtractionError("condition references non-leaf attribute")
        touched = frozenset(attr_leaf[r] for r in refs)
        if len(touched) <= 1:
            target = next(iter(touched), names[0])
            local_filters[target].append(cj)
        elif (
            len(touched) == 2
            and _cls(cj) in ("EqualTo", "EqualNullSafe")
            and _cls(cj.left()) == "AttributeReference"
            and _cls(cj.right()) == "AttributeReference"
        ):
            ln, lid = _attr_name_id(cj.left())
            rn, rid = _attr_name_id(cj.right())
            edges.append(JoinEdge(attr_leaf[lid], ln, attr_leaf[rid], rn))
            edge_cols.append(_col(spark, cj))
        else:
            post_conds.append((touched, _col(spark, cj)))

    if not edges:
        raise ExtractionError("no equi-join edges found")
    covered = {t for e in edges for t in (e.left_table, e.right_table)}
    if covered != set(names):
        raise ExtractionError(
            f"join graph disconnected: {sorted(set(names) - covered)} have no equi edge"
        )

    # -- leaf DataFrames with local filters pushed in (size estimates are
    #    computed lazily, see ensure_sizes)
    leaves: dict[str, DataFrame] = {}
    for name, lp in zip(names, leaf_plans):
        ldf = _of_rows(spark, lp)
        for cj in local_filters[name]:
            ldf = ldf.filter(_col(spark, cj))
        leaves[name] = ldf
    sizes: dict[str, int] = {}

    cache_key = (
        tuple(sorted(names)),
        tuple(sorted(scopes)),
        tuple(
            sorted(
                (e.left_table, e.left_col, e.right_table, e.right_col) for e in edges
            )
        ),
    )
    return QueryGraph(
        spark=spark,
        names=names,
        leaves=leaves,
        edges=edges,
        edge_cols=edge_cols,
        post_conds=post_conds,
        sizes=sizes,
        parents=parents,
        out_attrs=list(_j(spark, analyzed.output())),
        cache_key=cache_key,
        hinted=frozenset(n for n, h in zip(names, leaf_hinted) if h),
    )


def build_graph_chain(
    graph: QueryGraph,
    order: tuple[str, ...],
    leaves: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Left-deep chain in ``order`` with every conjunct attached at its
    earliest bound position; exprId-resolved conditions, so safe under
    duplicate names. Both edge attachment and post-cond placement depend
    only on the bound TABLE SET, never on the order within it — which is
    what lets joinorder.score_orders share one measurement between orders
    that bind the same sets in the same sequence.

    The final chain (``leaves`` not given) streams its largest input: see
    :func:`_streamed_leaf`. Chains over sampled ``leaves`` carry no such
    hint."""
    import pyspark.sql.functions as _F

    stream = _streamed_leaf(graph, order) if leaves is None else None
    leaves = leaves or graph.leaves

    def leaf(t: str) -> DataFrame:
        # re-apply the user's broadcast hint INSIDE a join relation (see
        # extract_query_graph: standalone hinted leaves are unwrapped)
        return _F.broadcast(leaves[t]) if t in graph.hinted else leaves[t]

    acc = leaf(order[0])
    bound = {order[0]}
    used: set[int] = set()
    post_used: set[int] = set()

    def attach_post(acc: DataFrame) -> DataFrame:
        for i, (need, cond) in enumerate(graph.post_conds):
            if i not in post_used and need <= bound:
                post_used.add(i)
                acc = acc.filter(cond)
        return acc

    for t in order[1:]:
        conds = []
        for i, e in enumerate(graph.edges):
            if i not in used and e.touches(t) and e.other(t) in bound:
                conds.append(graph.edge_cols[i])
                used.add(i)
        if not conds:
            raise ValueError(f"order {order} joins {t} with no bound edge")
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        if t == stream:
            acc = acc.hint("broadcast")
        acc = acc.join(leaf(t), cond)
        bound.add(t)
        acc = attach_post(acc)
    # edges between leaves both bound before either side joined (shouldn't
    # happen in left-deep orders, but stay safe) + any leftover post conds
    for i, c in enumerate(graph.edge_cols):
        if i not in used:
            acc = acc.filter(c)
    acc = attach_post(acc)
    return acc


def _streamed_leaf(graph: QueryGraph, order: tuple[str, ...]) -> str | None:
    """The leaf a learned order should stream rather than broadcast, or None.

    Catalyst estimates a join's size as the product of its inputs, so after
    a few dimension joins the accumulated side of a dimension-first chain
    looks larger than the fact table, and the fact table is the one that
    gets broadcast (a hash relation over every lineitem row). When the
    largest leaf joins after leaves that are all smaller and together fit
    under ``spark.sql.autoBroadcastJoinThreshold`` (-1 disables this), the
    accumulated side is hinted for broadcast instead. A user
    ``F.broadcast`` on the largest leaf wins. Only Catalyst's size
    estimates are read (:meth:`QueryGraph.ensure_sizes`); no job runs."""
    limit = graph.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    fact = graph.fact
    i = order.index(fact)
    if limit < 0 or i == 0 or fact in graph.hinted:
        return None
    bound = [graph.sizes[t] for t in order[:i]]
    if max(bound) >= graph.sizes[fact] or sum(bound) > limit:
        return None
    return fact


def finish(graph: QueryGraph, chain: DataFrame) -> DataFrame:
    """Replay the parent operators over the reordered chain and pin the
    original output schema."""
    spark = graph.spark
    plan = chain._jdf.queryExecution().analyzed()
    for p in reversed(graph.parents):
        plan = p.withNewChildren(_scala_seq(spark, [plan]))
    out = _of_rows(spark, plan)
    if not graph.parents:
        # no projection above the join: re-pin the original column order
        out = out.select(*[_col(spark, a) for a in graph.out_attrs])
    return out


def adaptive_reorder(
    df: DataFrame,
    episodes: int = 4,
    sample_rows: int = 20_000,
    max_orders: int = 12,
    seed: int = 42,
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
    streams its largest input (:func:`_streamed_leaf`), and is cached under
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
        chain = build_graph_chain(graph, cached)
        return AdaptiveJoinResult(finish(graph, chain), cached, reason="cached")
    if len(cands) == 1:
        chain = build_graph_chain(graph, cands[0])
        return AdaptiveJoinResult(finish(graph, chain), cands[0])

    # candidates: selectivity-greedy seeds, then the DFS enumeration —
    # scored in list order, so with few episodes the duel is between the
    # greedy seeds
    graph.ensure_sizes()
    seeds = greedy_orders(graph.names, graph.edges, graph.sizes)
    cands = seeds + [c for c in cands if c not in seeds]
    fact = graph.fact

    # sampled episodes: shrink the fact side to ~sample_rows using the
    # best-available row estimate (footer/CBO-backed — the bytes//100
    # guess over-shrank the sample fraction on wide tables, ADVICE r8)
    est_rows = graph.est_rows(fact)
    fraction = min(1.0, sample_rows / est_rows)
    sampled = dict(graph.leaves)
    if fraction < 1.0:
        sampled[fact] = graph.leaves[fact].sample(fraction=fraction, seed=seed)
    best, stats = score_orders(
        cands,
        lambda o: build_graph_chain(graph, o, leaves=sampled),
        episodes,
        episode_budget_s,
        count=_budgeted_count,
    )
    _COUNTERS["episodes"] += sum(e.measured for e in stats)
    if use_cache:
        _cache_put(graph.cache_key, best)
    chain = build_graph_chain(graph, best)
    return AdaptiveJoinResult(finish(graph, chain), best, stats)
