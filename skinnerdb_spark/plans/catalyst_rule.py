"""Catalyst-side injection of learned join orders (SURVEY §4.3 option (c)).

`Engine.adaptive_sql` applies learned (lowest sampled C_out) orders at the API
boundary; this module pushes the same knowledge INTO Catalyst so plain
``spark.sql(...)`` / DataFrame users execute learned orders with no API
change — the Spark analogue of the reference applying UCT orders inside the
engine (src/joining/JoinProcessor.java:46-207) rather than in its console.

Mechanism:
- a 40-line JVM shim (plans/java/skinner/SkinnerReorderRule.java, compiled
  to skinnerdb_spark/jars/skinner-rule.jar, on the driver classpath via
  session.py) registers in ``spark.experimental().extraOptimizations`` —
  the user-provided-optimizer batch, which runs AFTER Catalyst's own join
  reordering, so what this rule emits is what executes;
- the shim delegates to a py4j callback (:class:`_PyReorderer`) and is the
  identity whenever the callback is absent, returns None, or throws;
- the callback re-wraps the optimized plan as a DataFrame (the JVM plan
  helper, plans/java/skinner/PlanHelper.java, drops the Projects between
  its joins first), reuses the adaptive path's own extraction
  (plans/graph.py ``extract_query_graph`` — the
  optimizer-stage plan still satisfies its shape contract: unary parents,
  inner-join tree, LogicalRelation leaves), looks up the learned order by
  the graph's cache key (plans/graph.py ``QueryGraph.cache_key``: sorted
  names, so Catalyst's own permutation of the joins before this rule runs
  still finds the order learned at the API boundary), rebuilds the chain with
  the same leaf relations (exprIds preserved — parent operators reference
  attributes by id, so replacing the subtree is safe), and hands back the
  rebuilt plan's own optimized form (fresh pushdown/pruning run under a
  re-entrancy guard).

No episodes ever run inside the optimizer: the rule only APPLIES knowledge
learned by ``adaptive_sql`` / ``adaptive_reorder`` episodes. A query whose
graph has no cached order passes through untouched.

Fallback matrix (all clean):
- jar not on classpath (plain driver session) -> install returns False,
  nothing changes;
- callback errors / ineligible shape / cache miss -> JVM shim returns the
  input plan;
- already in learned order -> callback returns None (fixed-point safe).
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession

from skinnerdb_spark.state import plan_helper

#: process-global NON-BLOCKING re-entrancy guard. A thread-local flag would
#: only stop the nested re-optimization (`_reorder` calls
#: `optimizedPlan()`, which re-fires this rule) under py4j pinned-thread
#: mode; with PYSPARK_PIN_THREAD=0 the nested callback arrives on a
#: DIFFERENT callback-server thread and a thread-local guard would recurse
#: unboundedly. A global try-lock is safe in both modes: the nested (or any
#: concurrent) invocation fails the acquire and returns None = identity —
#: the rule only ever *skips an optimization*, never changes semantics.
_BUSY = threading.Lock()


class _PyReorderer:
    """py4j proxy implementing skinner.SkinnerReorderRule$Reorderer."""

    #: cap on the no-op memo; cleared wholesale on overflow (keys are ints).
    _NOOP_CAP = 16384

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self.hits = 0
        self.misses = 0
        self.errors = 0
        self.skips = 0  # memoized no-op short-circuits
        #: semanticHash values of plans this proxy already decided to leave
        #: untouched — ineligible shapes, cache misses, plans ALREADY in the
        #: learned order (including every plan this rule itself emitted).
        #: semanticHash canonicalizes exprIds, so it is stable across
        #: re-executions of the same query text; a collision merely skips an
        #: optimization (identity), never changes semantics. This memo is
        #: the overhead bound (PERFORMANCE.md r7): the optimizer fixpoint
        #: re-invokes the rule on its own output, and repeated template
        #: queries dominate real workloads — both paths collapse to ONE
        #: py4j call + a set probe instead of the full plan walk +
        #: extraction + nested re-optimization.
        self._noop: set[int] = set()
        #: order-cache version the memo was built against: a cache-miss
        #: no-op is only valid until a new order is learned, so the memo is
        #: cleared whenever plans.graph's order cache gains an entry —
        #: otherwise a shape first seen before its order was learned would
        #: never be reordered for the rest of the session (ADVICE r7)
        self._noop_version = -1

    class Java:  # noqa: D106  (py4j contract)
        implements = ["skinner.SkinnerReorderRule$Reorderer"]

    def _mark_noop(self, h: int | None) -> None:
        if h is None:
            return
        if len(self._noop) >= self._NOOP_CAP:
            self._noop.clear()
        self._noop.add(h)

    def reorder(self, jplan):
        if not _BUSY.acquire(blocking=False):
            return None
        try:
            from skinnerdb_spark.plans.graph import order_cache_version

            v = order_cache_version()
            if v != self._noop_version:
                # new orders were learned since the memo was built: every
                # memoized "no learned order for this shape" decision is
                # potentially stale — rebuild from scratch (cheap; the memo
                # repopulates on the next optimizer pass)
                self._noop.clear()
                self._noop_version = v
            try:
                h = jplan.semanticHash()
            except Exception:
                h = None
            if h is not None and h in self._noop:
                self.skips += 1
                return None
            out = self._reorder(jplan)
            if out is None:
                self._mark_noop(h)
            else:
                # the emitted plan is in the learned order by construction:
                # memo it so the fixpoint re-invocation short-circuits
                try:
                    self._mark_noop(out.semanticHash())
                except Exception:
                    pass
            return out
        except Exception:
            self.errors += 1
            return None
        finally:
            _BUSY.release()

    def _reorder(self, jplan):
        from skinnerdb_spark.plans.graph import (
            _ORDER_CACHE,
            ExtractionError,
            build_graph_chain,
            extract_query_graph,
            finish,
        )

        # the optimizer puts column-pruning Projects between joins; without
        # them the plan flattens like an analyzed one
        jdf = plan_helper(self._spark).stripProjectsOverJoins(self._spark._jsparkSession, jplan)
        try:
            graph = extract_query_graph(DataFrame(jdf, self._spark))
        except ExtractionError:
            self.misses += 1
            return None
        cached = _ORDER_CACHE.get(graph.cache_key)
        # the key holds the sorted leaf names, so a hit is a permutation of
        # this plan's leaves
        if cached is None or tuple(graph.names) == tuple(cached):
            self.misses += 1
            return None
        try:
            out = finish(graph, build_graph_chain(graph, tuple(cached)))
        except ValueError:  # disconnected under this order — stale cache row
            self.misses += 1
            return None
        self.hits += 1
        return out._jdf.queryExecution().optimizedPlan()


def rule_available(spark: SparkSession) -> bool:
    """True iff the JVM shim class is on the driver classpath."""
    try:
        spark._jvm.java.lang.Class.forName("skinner.SkinnerReorderRule")
        return True
    except Exception:
        return False


def install_learned_order_rule(spark: SparkSession) -> bool:
    """Register the rule + callback on this session. Returns False (no-op)
    when the shim jar is absent — callers fall back to Engine.adaptive_sql."""
    if not rule_available(spark):
        return False
    if getattr(spark, "_skinner_rule_proxy", None) is not None:
        return True
    jvm = spark._jvm
    proxy = _PyReorderer(spark)
    rule_cls = jvm.java.lang.Class.forName("skinner.SkinnerReorderRule")
    rule = jvm.skinner.SkinnerReorderRule()
    rule_cls.getField("impl").set(None, proxy)
    seq = jvm.PythonUtils.toSeq([rule])
    getattr(spark._jsparkSession.experimental(), "extraOptimizations_$eq")(seq)
    spark._skinner_rule_proxy = proxy
    return True


def uninstall_learned_order_rule(spark: SparkSession) -> None:
    if not rule_available(spark):
        return
    jvm = spark._jvm
    rule_cls = jvm.java.lang.Class.forName("skinner.SkinnerReorderRule")
    rule_cls.getField("impl").set(None, None)
    getattr(spark._jsparkSession.experimental(), "extraOptimizations_$eq")(jvm.PythonUtils.toSeq([]))
    if getattr(spark, "_skinner_rule_proxy", None) is not None:
        spark._skinner_rule_proxy = None


def executed_join_order(df: DataFrame) -> list[str]:
    """Leaf table-name order of the topmost join chain in df's OPTIMIZED
    plan (left-deep flatten order) — the plan-assertion hook for tests."""
    return json.loads(plan_helper(df.sparkSession).joinOrder(df._jdf))
