"""Adaptive join ordering — the reference's headline feature, Spark-first.

SkinnerDB picks join orders at run time with UCT Monte-Carlo tree search over
budgeted episodes, no cost model (src/joining/uct/UctNode.java:208-282,
episode loop src/joining/JoinProcessor.java:109-152, cartesian-avoid heuristic
src/query/QueryInfo.java:655-668). That mechanism is an artifact of
single-node tuple-at-a-time execution: Spark cannot pause a distributed join
mid-flight, so we reproduce the *spirit* — no prior cost model, learn from
execution — at the granularity Spark supports:

1. candidate space: left-deep, connected join orders (same cartesian-avoid
   rule as the reference), selectivity-greedy seeds first;
2. observation: one budgeted execution of a candidate's chain on a seeded
   sample of the fact side, read back as the output rows of every join
   (``numOutputRows`` SQL metrics of the executed plan);
3. score: sampled C_out, the sum of those join cardinalities — the reward
   is a property of the data, not of wall time, so it is exact and repeats
   across processes, and each candidate is scored once. Candidates that
   bind the same table sets in the same sequence have the same C_out
   (inner joins commute) and share one measurement; when every candidate
   has the same sequence, the first wins and nothing is measured;
4. execution: the lowest-C_out order (ties: candidate order) is emitted as
   a plain DataFrame join chain, which Catalyst/AQE then executes
   (broadcast/shuffle selection stays adaptive at stage granularity).

Default engine path remains pure Catalyst; this module is opt-in and must
always produce identical results, only (maybe) faster plans.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame

from skinnerdb_spark.plans.metrics import join_rows


@dataclass(frozen=True)
class JoinEdge:
    """Equi-join predicate left.col == right.col between two named tables."""

    left_table: str
    left_col: str
    right_table: str
    right_col: str

    def touches(self, table: str) -> bool:
        return table in (self.left_table, self.right_table)

    def other(self, table: str) -> str:
        return self.right_table if table == self.left_table else self.left_table


def connected_orders(
    tables: list[str], edges: list[JoinEdge], max_orders: int = 64
) -> list[tuple[str, ...]]:
    """Enumerate left-deep join orders that never form a cartesian product —
    the reference's `query.connected` pruning (QueryInfo.java:655-668).
    Bounded DFS; at most ``max_orders`` orders returned."""
    orders: list[tuple[str, ...]] = []

    def joinable(prefix: tuple[str, ...], nxt: str) -> bool:
        return any(e.touches(nxt) and e.other(nxt) in prefix for e in edges)

    def dfs(prefix: tuple[str, ...]) -> None:
        if len(orders) >= max_orders:
            return
        if len(prefix) == len(tables):
            orders.append(prefix)
            return
        for t in tables:
            if t not in prefix and (not prefix or joinable(prefix, t)):
                dfs(prefix + (t,))

    dfs(())
    return orders


def is_connected_order(
    order: tuple[str, ...], tables: list[str], edges: list[JoinEdge]
) -> bool:
    """True iff ``order`` covers every table and never forms a cartesian
    product — validity check for orders that arrive from outside the
    enumeration (cache/transfer tiers)."""
    if sorted(order) != sorted(tables):
        return False
    for i, t in enumerate(order[1:], 1):
        prefix = order[:i]
        if not any(e.touches(t) and e.other(t) in prefix for e in edges):
            return False
    return True


def greedy_orders(
    tables: list[str],
    edges: list[JoinEdge],
    sizes: dict[str, int],
    starts: int = 4,
) -> list[tuple[str, ...]]:
    """Selectivity-seeded left-deep candidates: start from each of the
    ``starts`` smallest leaves (optimizer size estimates, post-pushdown),
    then repeatedly append the smallest CONNECTED unjoined table — the
    classic greedy heuristic (Selinger-style min-size expansion).

    Why this exists: ``connected_orders``'s bounded DFS enumerates in table
    order and its ``max_orders`` cap can exhaust on permutations that all
    open with the same (large) tables — for an 8-way join graph, dim-first
    orders may not appear AT ALL among the first 12. Seeding the candidate
    list with greedy orders guarantees the scorer always has a
    small-leading, filter-early arm to play against whatever the DFS
    produced; learning at a 36M-row warehouse then starts from sane
    incumbents instead of noise (found via the cardinality-matched JOB
    replay — the DFS-only arm set learned fact-first orders that ran 40x
    behind the greedy ones at scale 100)."""
    out: list[tuple[str, ...]] = []
    for s in sorted(tables, key=lambda t: (sizes.get(t, 0), t))[:starts]:
        order = [s]
        rest = set(tables) - {s}
        while rest:
            nxts = [
                t
                for t in rest
                if any(e.touches(t) and e.other(t) in order for e in edges)
            ]
            if not nxts:
                break
            nxt = min(nxts, key=lambda t: (sizes.get(t, 0), t))
            order.append(nxt)
            rest.remove(nxt)
        if not rest:
            o = tuple(order)
            if o not in out:
                out.append(o)
    return out


def build_join_chain(
    dfs: dict[str, DataFrame],
    order: tuple[str, ...],
    edges: list[JoinEdge],
) -> DataFrame:
    """Materialize a left-deep join order as a DataFrame chain; every edge
    whose both sides are bound attaches at the earliest position (the
    reference's predicate placement, LeftDeepPlan.java:54-124 — Catalyst would
    do the same, we just keep the order pinned)."""
    acc = dfs[order[0]]
    bound = {order[0]}
    used: set[int] = set()
    for t in order[1:]:
        conds = []
        for i, e in enumerate(edges):
            if i in used or not e.touches(t):
                continue
            if e.other(t) in bound:
                lc = e.left_col if e.left_table == t else e.right_col
                oc = e.right_col if e.left_table == t else e.left_col
                conds.append(dfs[t][lc] == acc[oc])
                used.add(i)
        if not conds:
            raise ValueError(f"order {order} joins {t} with no bound edge (cartesian)")
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        acc = acc.join(dfs[t], cond)
        bound.add(t)
    return acc


@dataclass
class EpisodeStats:
    order: tuple[str, ...]
    seconds: float  # 0.0 when no job ran for this candidate
    rows: int  # -1 when no count finished (cancelled, or predetermined)
    #: output rows of each join of the sampled chain, bottom-up
    joins: tuple[int, ...] = ()
    timed_out: bool = False
    #: scored from an earlier candidate that binds the same table sets in
    #: the same sequence (no job ran)
    memo: bool = False
    #: not measured: every scored candidate binds the same table sets in the
    #: same sequence, so the first one wins whatever a sample would say
    predetermined: bool = False

    @property
    def measured(self) -> bool:
        """A sampled execution ran for this candidate."""
        return not (self.memo or self.predetermined)

    @property
    def cout(self) -> int | None:
        """Sampled C_out: the sum of the chain's join output rows (None
        when not measured)."""
        return None if self.predetermined else sum(self.joins)


#: AQE rule that replaces a join over an empty materialized stage with an
#: empty relation. On a sample that erases exactly the joins whose output
#: rows an episode exists to read (a 12-way chain collapsed to a bare
#: EmptyRelation), so it is excluded while an episode runs.
_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_EMPTY_PROPAGATION = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
#: whole-stage codegen, pinned on while an episode runs: the interpreted hash
#: join returns before reading its stream side once its build side is empty,
#: so every join below it reports 0 output rows
_WHOLE_STAGE = "spark.sql.codegen.wholeStage"


def budgeted_count(
    df: DataFrame, budget_s: float | None = None
) -> tuple[int | None, float, tuple[int, ...]]:
    """Count ``df`` under a WALL-CLOCK budget and read back the output rows
    of each of its joins — one sampled episode. The budget is the
    Spark-idiom analogue of the reference's per-episode step budget
    (OldJoin.executeWithBudget runs <= 500 tuple steps per episode,
    src/joining/JoinProcessor.java:109-152 + src/config/JoinConfig.java:22):
    Spark joins cannot pause mid-stage, so the episode's jobs run in their
    own thread under a unique job group that is CANCELLED on timeout.

    Returns (rows, elapsed, join_rows); rows is None and join_rows empty
    when cancelled. ``budget_s=None`` counts unbudgeted. The final (winning)
    execution is never budgeted — only exploration episodes are, exactly
    like the reference.

    Join rows are exact only where the joins run inside whole-stage
    codegen, which is pinned on for the episode (AQE's empty-relation
    propagation is excluded likewise). A stage that still falls back to
    interpreted execution — more than ``spark.sql.codegen.maxFields``
    fields, or generated code over the huge-method limit — stops at an
    empty build side, and the joins below it read 0 on an empty sample."""
    counted = df.groupBy().count()
    conf = df.sparkSession.conf
    prev = {k: conf.get(k, None) for k in (_EXCLUDED_RULES, _WHOLE_STAGE)}
    rules = prev[_EXCLUDED_RULES]
    conf.set(_EXCLUDED_RULES, ",".join(filter(None, [rules, _EMPTY_PROPAGATION])))
    conf.set(_WHOLE_STAGE, "true")
    try:
        rows, dt = _count_within(counted, budget_s)
    finally:
        for k, v in prev.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    return rows, dt, (() if rows is None else join_rows(counted))


def _count_within(counted: DataFrame, budget_s: float | None) -> tuple[int | None, float]:
    t0 = time.monotonic()
    if budget_s is None:
        return counted.collect()[0][0], time.monotonic() - t0
    import threading
    import uuid

    sc = counted.sparkSession.sparkContext
    group = f"skinner-episode-{uuid.uuid4().hex[:8]}"
    out: dict = {}

    def run() -> None:
        # job group is per-thread (pinned-thread mode maps this Python
        # thread to its own JVM thread), so only THIS episode is cancelled
        sc.setJobGroup(group, "skinnerdb budgeted episode", interruptOnCancel=True)
        try:
            out["n"] = counted.collect()[0][0]
        except Exception as e:  # cancellation surfaces as a SparkException
            out["err"] = e

    # InheritableThread (vs a bare Thread): in py4j pinned-thread mode every
    # Python thread pins a JVM thread; pyspark's InheritableThread carries
    # the parent's local properties over AND cleans the pinned JVM thread up
    # on exit, so repeated budgeted episodes don't leak JVM threads /
    # local-property state (ADVICE r6).
    from pyspark import InheritableThread

    th = InheritableThread(target=run, daemon=True)
    th.start()
    th.join(budget_s)
    if th.is_alive():
        sc.cancelJobGroup(group)
        th.join(30)
        if th.is_alive():
            # cancellation did not land: the episode's jobs are still
            # executing concurrently with whatever runs next — surface it
            # loudly instead of silently racing (ADVICE r6)
            import logging

            logging.getLogger(__name__).warning(
                "budgeted episode %s still running 30 s after cancelJobGroup; "
                "its jobs may overlap subsequent episodes", group
            )
        return None, time.monotonic() - t0
    return out.get("n"), time.monotonic() - t0


def score_orders(
    cands: list[tuple[str, ...]],
    build: Callable[[tuple[str, ...]], DataFrame],
    episodes: int,
    budget_s: float | None = None,
    count: Callable | None = None,
) -> tuple[tuple[str, ...], list[EpisodeStats]]:
    """Score the first ``episodes`` candidates by sampled C_out; return the
    winner and one EpisodeStats per scored candidate, in candidate order.

    ``build(order)`` makes the order's chain over the sampled inputs and
    ``count`` runs it (default :func:`budgeted_count`). Both the join
    cardinalities and the placement of every predicate depend only on the
    bound-table SET at each step, so a candidate whose sequence of bound
    sets was already measured — e.g. a swap of the first two tables — is
    scored from the memo and runs no job. When every scored candidate has
    the same sequence (or there is only one), no measurement can change the
    winner: the first candidate wins, no job runs, and each candidate's
    stats carry the ``predetermined`` marker; with nothing scored the first
    candidate wins likewise. Otherwise the winner has the lowest C_out;
    timed-out candidates rank last and ties go to the earlier candidate."""
    count = count or budgeted_count
    scored = cands[:episodes]
    keys = [tuple(frozenset(o[:i]) for i in range(2, len(o) + 1)) for o in scored]
    if len(set(keys)) <= 1:
        return cands[0], [EpisodeStats(o, 0.0, -1, predetermined=True) for o in scored]
    memo: dict[tuple[frozenset[str], ...], EpisodeStats] = {}
    stats: list[EpisodeStats] = []
    for order, key in zip(scored, keys):
        if key in memo:
            stats.append(replace(memo[key], order=order, seconds=0.0, memo=True))
            continue
        rows, dt, joins = count(build(order), budget_s)
        memo[key] = EpisodeStats(order, dt, -1 if rows is None else rows, joins, rows is None)
        stats.append(memo[key])
    return min(stats, key=lambda e: (e.timed_out, e.cout)).order, stats


@dataclass
class AdaptiveJoinResult:
    df: DataFrame
    best_order: tuple[str, ...]
    episodes: list[EpisodeStats] = field(default_factory=list)


def adaptive_join(
    dfs: dict[str, DataFrame],
    edges: list[JoinEdge],
    fact: str | None = None,
    episodes: int = 8,
    sample_fraction: float = 0.05,
    max_orders: int = 16,
    seed: int = 42,
    episode_budget_s: float | None = None,
) -> AdaptiveJoinResult:
    """Join order chosen by sampled C_out (see :func:`score_orders`).

    The designated fact table (first input if not given) is sampled with a
    fixed seed and the first ``episodes`` connected orders are scored on
    it. With ``episode_budget_s`` set, an episode exceeding the wall-clock
    budget is CANCELLED and ranks last (see :func:`budgeted_count` — the
    reference's 500-step episode budget in Spark idiom); the winner always
    executes in full, unbudgeted, on the unsampled inputs. Results are
    identical for every order (inner joins commute); only the physical plan
    differs.
    """
    tables = list(dfs)
    fact = fact or tables[0]
    cands = connected_orders(tables, edges, max_orders=max_orders)
    # prefer orders that start at the fact table (probe-side last heuristic
    # falls out of broadcasting the dims)
    cands.sort(key=lambda o: (o[0] != fact, o))
    if not cands:
        raise ValueError("no connected join order exists (query graph is disconnected)")
    if len(cands) == 1:
        return AdaptiveJoinResult(build_join_chain(dfs, cands[0], edges), cands[0])

    sampled = dict(dfs)
    sampled[fact] = dfs[fact].sample(fraction=sample_fraction, seed=seed)
    best, stats = score_orders(
        cands, lambda o: build_join_chain(sampled, o, edges), episodes, episode_budget_s
    )
    return AdaptiveJoinResult(build_join_chain(dfs, best, edges), best, stats)
