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
import weakref
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

#: per-process cache of learned join orders, keyed by graph signature —
#: repeated templates (a benchmark directory, a dashboard) skip the sampled
#: episodes entirely after the first run, the cross-query analogue of the
#: reference reusing its UCT tree across episodes of one query. Exact and
#: shape signatures include the leaves' scan locations, so two warehouses
#: with identical table names never share an AUTHORITATIVE entry; a third,
#: scope-free "transfer" tier (see extract_query_graph.transfer_sig) serves
#: as a warm start for the same query shape on a NEW warehouse — join-order
#: quality tracks *relative* cardinalities, which proportional scaling of
#: the same schema preserves (measured: the first sf1 run paid 20-22x on
#: 15-way shapes purely in cold episodes, PERFORMANCE.md round-6). FIFO-
#: capped: entries are a few strings each, the cap only guards a
#: pathological template generator.
_ORDER_CACHE: dict[tuple, tuple[str, ...]] = {}
_ORDER_CACHE_CAP = 4096

#: bumped on every mutation of _ORDER_CACHE (put or bulk load). Consumers
#: that memoize "this plan shape had no learned order" (the Catalyst rule's
#: no-op memo, plans/catalyst_rule.py) compare against this to invalidate
#: their memo when new orders are learned — otherwise a query shape first
#: seen before its order was learned would never be reordered for the rest
#: of the session (ADVICE r7).
_ORDER_CACHE_VERSION = 0


def order_cache_version() -> int:
    return _ORDER_CACHE_VERSION


#: process-lifetime observability for the adaptive tier (bench.py emits
#: these in its JSON so episode spend is visible per run): episodes =
#: sampled exploration executions actually run; exploit_hits = duels
#: skipped by the at-scale transfer fast path; cache_hits = zero-episode
#: signature/shape cache servings.
_COUNTERS = {"episodes": 0, "exploit_hits": 0, "cache_hits": 0}


def adaptive_counters() -> dict[str, int]:
    return dict(_COUNTERS)


def _exploit_rows_threshold() -> int:
    """Estimated fact-row count at or above which a previously-duelled
    transferred order is exploited WITHOUT a fresh duel (0 disables).

    Default 16M estimated rows: well above every bench/test warehouse
    (sf0.1 lineitem ~600k, sf1 ~6M) so local learning behavior is
    unchanged, and below the sf10/100-TB regime where exploration episodes
    were measured above-linear (~4.3x at the sf1->sf10 step on deep
    shapes, VERDICT r7 item 3)."""
    try:
        return int(os.environ.get("SKINNER_TRANSFER_EXPLOIT_ROWS", "16000000"))
    except ValueError:
        return 16_000_000

#: secondary index for ORDER-INSENSITIVE shape lookup (ADVICE r6 /
#: VERDICT r6 item 6): canonical (sorted names, scopes, edges) -> the
#: primary _ORDER_CACHE key. The Catalyst rule's unordered shape lookup
#: runs inside every optimizer invocation of an eligible query — an O(cache)
#: scan there puts up to 4096 tuple comparisons in the optimizer hot path;
#: this dict makes it O(1). Values are primary KEYS (not orders), so a key
#: popped from _ORDER_CACHE (cap eviction, test isolation) degrades to a
#: clean miss instead of a stale hit.
_SHAPE_INDEX: dict[tuple, tuple] = {}


def _canon_shape(key: tuple) -> tuple:
    return (tuple(sorted(key[0])), key[1], key[2])


def _index_shape(key: tuple) -> None:
    # shape keys are (names, scopes, edges); exact signatures add a 4th
    # element and transfer keys lead with the "xfer" marker
    if len(key) == 3 and key[0] != "xfer":
        _SHAPE_INDEX[_canon_shape(key)] = key

#: learned orders also persist across sessions (spark-warehouse/
#: joinorder_cache.json, same durability upgrade as the IVF index vs the
#: reference's per-session RAM indexes): a new driver process inherits every
#: order previous sessions learned and pays zero episodes on template hits.
#: Stale-safe by construction — signatures embed the scan locations, so a
#: different warehouse simply misses. Opt out: SKINNER_ORDER_CACHE_PERSIST=0.
_ORDER_CACHE_FILE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
    "joinorder_cache.json",
)
_persist_loaded = False


def _persist_enabled() -> bool:
    return os.environ.get("SKINNER_ORDER_CACHE_PERSIST", "1") != "0"


def _transfer_enabled() -> bool:
    """Cross-warehouse order transfer (SKINNER_ORDER_TRANSFER=0 disables):
    a new warehouse with the same query shape starts from the order learned
    elsewhere instead of paying cold episodes. Correctness is unaffected
    either way — the order only shapes the plan; AQE still picks physical
    strategies per stage from THIS warehouse's runtime sizes."""
    return os.environ.get("SKINNER_ORDER_TRANSFER", "1") != "0"


def _tuplify(x):
    return tuple(_tuplify(e) for e in x) if isinstance(x, list) else x


def load_order_cache(path: str | None = None) -> int:
    """Merge the persisted order cache into the in-process one (idempotent;
    in-process entries win; the in-memory cap applies so a grown file cannot
    balloon the dict). Returns the number of entries loaded."""
    import json

    global _persist_loaded
    _persist_loaded = True
    try:
        with open(path or _ORDER_CACHE_FILE) as f:
            items = json.load(f)
    except (OSError, ValueError):
        return 0
    n = 0
    for k, v in items:
        if len(_ORDER_CACHE) >= _ORDER_CACHE_CAP:
            break
        key = _tuplify(k)
        if key not in _ORDER_CACHE:
            _ORDER_CACHE[key] = tuple(v)
            _index_shape(key)
            n += 1
        # backfill the scope-free transfer tier from persisted SHAPE keys
        # (files written before the tier existed have none): shape keys are
        # (names, scopes, edges); exact signatures add a 4th element and
        # transfer keys lead with the "xfer" marker, so len==3 + marker
        # check identifies them unambiguously
        if len(key) == 3 and key[0] != "xfer":
            xk = ("xfer", key[0], key[2])
            if xk not in _ORDER_CACHE and len(_ORDER_CACHE) < _ORDER_CACHE_CAP:
                _ORDER_CACHE[xk] = tuple(v)
    global _ORDER_CACHE_VERSION
    _ORDER_CACHE_VERSION += 1
    return n


def save_order_cache(path: str | None = None) -> None:
    """Atomically persist the in-process cache (tmp file + replace)."""
    import json

    path = path or _ORDER_CACHE_FILE
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump([[k, v] for k, v in _ORDER_CACHE.items()], f)
    os.replace(tmp, path)


def _cache_get(key: tuple):
    if not _persist_loaded and _persist_enabled():
        load_order_cache()
    return _ORDER_CACHE.get(key)


def _cache_put(key: tuple, order: tuple[str, ...]) -> None:
    # merge the persisted file BEFORE the first save: a put-before-get path
    # must not clobber orders other sessions already learned
    if _persist_enabled() and not _persist_loaded:
        load_order_cache()
    if key not in _ORDER_CACHE and len(_ORDER_CACHE) >= _ORDER_CACHE_CAP:
        _ORDER_CACHE.pop(next(iter(_ORDER_CACHE)))
    _ORDER_CACHE[key] = order
    _index_shape(key)
    global _ORDER_CACHE_VERSION
    _ORDER_CACHE_VERSION += 1
    if _persist_enabled():
        try:
            save_order_cache()
        except OSError:
            pass


class ExtractionError(ValueError):
    """Query shape not eligible for adaptive reordering (caller falls back)."""


#: per-application cache of resolved JavaClass handles, keyed by
#: (applicationId, dotted path). Every dotted component of a
#: `spark._jvm.a.b.c.D` chain is its own py4j reflection ROUND TRIP
#: (~0.3 ms), and extraction resolves the same four classes on every query
#: — ~40 ms/query of pure class lookup at the bench's 172-query corpus
#: (r12, measured by cProfile: 220 JVMView __getattr__ calls per 10
#: extractions). A stopped and restarted session is a new application, so
#: no handle resolved for a dead app is ever served; the first lookup of a
#: new app drops the old app's handles.
_JVM_CLASSES: dict[tuple[str, str], Any] = {}

#: applicationId per live SparkContext object: reading it costs two py4j
#: round trips, more than most handle lookups it keys
_APP_IDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _app_id(spark: SparkSession) -> str:
    sc = spark.sparkContext
    app = _APP_IDS.get(sc)
    if app is None:
        app = _APP_IDS[sc] = sc.applicationId
        for k in [k for k in _JVM_CLASSES if k[0] != app]:
            del _JVM_CLASSES[k]
    return app


def _jcls(spark: SparkSession, path: str) -> Any:
    key = (_app_id(spark), path)
    cls = _JVM_CLASSES.get(key)
    if cls is None:
        cls = spark._jvm
        for part in path.split("."):
            cls = getattr(cls, part)
        _JVM_CLASSES[key] = cls
    return cls


def _j(spark: SparkSession, seq: Any) -> list:
    """Scala Seq -> Python list, by INDEX access — never by py4j iteration.

    Iterating a py4j Java collection ends with a JVM NoSuchElementException
    that pyspark converts through its exception-analysis machinery at ~30 ms
    per occurrence; a typical extraction iterates ~12 collections, which was
    ~90% of a measured 342 ms/query extraction cost. size()+get(i) performs
    the same traversal exception-free (measured: extraction drops to ~30 ms)."""
    jl = _jcls(spark, "scala.jdk.javaapi.CollectionConverters").asJava(seq)
    return [jl.get(i) for i in range(jl.size())]


def _scala_seq(spark: SparkSession, items: list) -> Any:
    al = _jcls(spark, "java.util.ArrayList")()
    for it in items:
        al.add(it)
    return _jcls(spark, "scala.jdk.javaapi.CollectionConverters").asScala(al).toSeq()


def _of_rows(spark: SparkSession, plan: Any) -> DataFrame:
    jdf = _jcls(spark, "org.apache.spark.sql.classic.Dataset").ofRows(
        spark._jsparkSession, plan
    )
    return DataFrame(jdf, spark)


def _col(spark: SparkSession, expr: Any) -> Column:
    from pyspark.sql.classic.column import Column as _CCol

    jc = _jcls(spark, "org.apache.spark.sql.classic.ExpressionUtils").column(expr)
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
    no alias); the scan's FULL root path as the scope — cache signatures
    embed it so identical table names in different warehouses never share
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
    #: exact cache signature: names + edge tuples + local-filter SQL
    signature: tuple = field(default=())
    #: shape signature (no filter constants): same join graph -> same
    #: template family, eligible for cross-query order reuse
    shape_sig: tuple = field(default=())
    #: scope-free signature (no scan locations, no filter constants): the
    #: cross-warehouse transfer key — a warm start only, never authoritative
    transfer_sig: tuple = field(default=())
    #: leaves the user marked F.broadcast() — re-hinted at chain rebuild
    hinted: frozenset[str] = field(default=frozenset())
    #: per-leaf ROW-count estimates (see est_rows) — separate cache from
    #: the byte sizes: bytes drive relative ordering, rows drive absolute
    #: thresholds (exploit gate, episode sampling fraction)
    row_counts: dict[str, int] = field(default_factory=dict)

    def ensure_sizes(self) -> None:
        """Optimizer-stat size estimates per leaf (no jobs run). Deferred:
        a cached-order hit never pays the per-leaf optimizer passes."""
        if self.sizes:
            return
        for name, ldf in self.leaves.items():
            self.sizes[name] = int(
                ldf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )

    def est_rows(self, name: str) -> int:
        """Best-available ROW-count estimate for a leaf, no jobs run.

        sizeInBytes//100 misclassifies wide tables (ADVICE r8: a multi-KB
        document row overshoots row count 10-100x, tripping the absolute-
        row thresholds far too early), so prefer, in order:
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
    has_subquery = _jcls(
        spark, "org.apache.spark.sql.catalyst.expressions.SubqueryExpression"
    )
    local_filters: dict[str, list[Any]] = {n: [] for n in names}
    local_sql: list[str] = []
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
            local_sql.append(cj.sql())
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
    #    computed lazily — only a cache MISS needs them, see ensure_sizes)
    leaves: dict[str, DataFrame] = {}
    for name, lp in zip(names, leaf_plans):
        ldf = _of_rows(spark, lp)
        for cj in local_filters[name]:
            ldf = ldf.filter(_col(spark, cj))
        leaves[name] = ldf
    sizes: dict[str, int] = {}

    shape_sig = (
        tuple(names),
        tuple(sorted(scopes)),
        tuple(
            sorted(
                (e.left_table, e.left_col, e.right_table, e.right_col) for e in edges
            )
        ),
    )
    signature = shape_sig + (tuple(sorted(local_sql)),)
    transfer_sig = ("xfer", shape_sig[0], shape_sig[2])
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
        signature=signature,
        shape_sig=shape_sig,
        transfer_sig=transfer_sig,
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
    that bind the same sets in the same sequence."""
    import pyspark.sql.functions as _F

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
    reuse_shape: bool = True,
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
    score and runs no job. With ``episode_budget_s`` set, each episode is
    WALL-CLOCK bounded — overruns are cancelled via job-group interruption
    and rank last (joinorder.budgeted_count: the Spark idiom of the
    reference's 500-step episode budget,
    src/joining/JoinProcessor.java:109-152 + src/config/JoinConfig.java:22).
    The lowest-C_out order executes in full, unbudgeted, and is cached per
    graph signature.
    """
    # ops/test escape hatch: SKINNER_ADAPTIVE_DISABLE=1 turns every
    # adaptive wrapper into the identity (Catalyst's own order executes).
    # tools/gate_check.py uses it so plan fingerprints don't vary with the
    # learned-order cache state.
    if os.environ.get("SKINNER_ADAPTIVE_DISABLE") == "1":
        res = AdaptiveJoinResult(df, ())
        res.reason = "disabled via SKINNER_ADAPTIVE_DISABLE"  # type: ignore[attr-defined]
        return res
    try:
        graph = extract_query_graph(df)
    except ExtractionError as e:
        res = AdaptiveJoinResult(df, ())
        res.reason = str(e)  # type: ignore[attr-defined]
        return res

    cands = connected_orders(graph.names, graph.edges, max_orders=max_orders)
    if not cands:
        res = AdaptiveJoinResult(df, ())
        res.reason = "no connected left-deep order"  # type: ignore[attr-defined]
        return res

    # cache lookup happens BEFORE any size estimation: a hit (the common
    # case for benchmark directories and dashboards) pays no optimizer
    # passes, just the chain rebuild
    cached = None
    transferred = None
    if use_cache:
        cached = _cache_get(graph.signature)
        if cached is None and reuse_shape:
            # template-family reuse: a query with the same join graph but
            # different filter constants inherits the learned order (the
            # reference learns per query; cross-template reuse is the
            # Spark-first trade — per-order *physical* strategy still adapts
            # at runtime via AQE, so a selectivity flip costs little)
            cached = _cache_get(graph.shape_sig)
        if cached is None and reuse_shape and _transfer_enabled():
            # cross-warehouse transfer: same shape learned on ANOTHER
            # warehouse (scope-free key). A warm start, never authoritative:
            # by default the transferred order enters the episode duel below
            # as the INCUMBENT arm and must win on THIS warehouse's sampled
            # rewards before it executes (an order learned at 20 MB ran 40x
            # behind greedy at the 100x-cardinality JOB replay — blind trust
            # does not survive a scale jump). SKINNER_ORDER_TRANSFER=trust
            # restores the r6 zero-episode behavior for same-machine,
            # same-scale warehouse clones; the validated winner is written
            # under THIS scope's signatures either way.
            transferred = _cache_get(graph.transfer_sig)
            if transferred is not None and is_connected_order(
                transferred, graph.names, graph.edges
            ):
                reason = None
                if os.environ.get("SKINNER_ORDER_TRANSFER") == "trust":
                    reason = "cached-transfer"
                else:
                    # exploit-only fast path at scale (VERDICT r7 item 3):
                    # every transfer-cache entry was written as a DUEL
                    # WINNER (only _cache_put after the episode loop or a
                    # validated run writes transfer_sig), so above the
                    # size threshold re-exploring pays full sampled
                    # executions at big-SF cost for a bounded, already-
                    # duelled gain — the measured ~4.3x above-linear step
                    # on 15/17-way shapes at sf10. Below the threshold the
                    # duel still runs (cheap, keeps learning); on a cache
                    # MISS the duel always runs. SKINNER_TRANSFER_EXPLOIT
                    # _ROWS=0 disables the fast path entirely.
                    thr = _exploit_rows_threshold()
                    if thr > 0:
                        # actual ROW estimate (footer/CBO-backed, ADVICE
                        # r8): bytes//100 overshot wide-row tables 10-100x
                        # and froze learning far below the intended regime
                        est = graph.est_rows(graph.fact)
                        if est >= thr:
                            reason = "transfer-exploit"
                            _COUNTERS["exploit_hits"] += 1
                if reason is not None:
                    # deliberately NOT written under this scope's signature:
                    # the signature tier means "duel-validated at this
                    # scope", and both trust and exploit are warm starts,
                    # not authority — a later run below the threshold (or
                    # with the fast path disabled) still duels and only its
                    # winner becomes authoritative here
                    chain = build_graph_chain(graph, transferred)
                    res = AdaptiveJoinResult(finish(graph, chain), transferred)
                    res.reason = reason  # type: ignore[attr-defined]
                    return res
    # validity — not membership in the first max_orders DFS candidates —
    # gates a cache hit: a winner that entered via the greedy seeds (the
    # 8-way-join case the seeds exist for) is absent from the DFS prefix,
    # and a membership check would silently discard it and re-run the full
    # episode loop on every execution (ADVICE r7)
    if cached is not None and is_connected_order(cached, graph.names, graph.edges):
        _COUNTERS["cache_hits"] += 1
        chain = build_graph_chain(graph, cached)
        res = AdaptiveJoinResult(finish(graph, chain), cached)
        res.reason = "cached"  # type: ignore[attr-defined]
        return res
    if len(cands) == 1 and transferred is None:
        chain = build_graph_chain(graph, cands[0])
        return AdaptiveJoinResult(finish(graph, chain), cands[0])

    # candidates: incumbent (validated transfer) first, then
    # selectivity-greedy seeds, then the DFS enumeration — scored in list
    # order, so with few episodes the duel is exactly
    # "transferred order vs greedy-smallest order"
    graph.ensure_sizes()
    seeds: list[tuple[str, ...]] = []
    if transferred is not None and is_connected_order(
        transferred, graph.names, graph.edges
    ):
        seeds.append(transferred)
    for g in greedy_orders(graph.names, graph.edges, graph.sizes):
        if g not in seeds:
            seeds.append(g)
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
    _COUNTERS["episodes"] += sum(not e.memo for e in stats)
    if use_cache:
        _cache_put(graph.signature, best)
        if graph.shape_sig not in _ORDER_CACHE:
            _cache_put(graph.shape_sig, best)
        if graph.transfer_sig not in _ORDER_CACHE:
            _cache_put(graph.transfer_sig, best)
    chain = build_graph_chain(graph, best)
    return AdaptiveJoinResult(finish(graph, chain), best, stats)
