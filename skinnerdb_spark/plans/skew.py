"""Skew mitigation utilities — salting for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime; explicit salting remains necessary when a *single* key dominates
(power-law user_ids, null-heavy FKs) or when the skewed side feeds an
aggregation rather than a join. At 100 TB a hot key can pin one executor for
hours — salting fans it out to ``n_salts`` partitions deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt__"


def salted(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Attach a uniform pseudo-random salt in [0, n_salts) derived from the
    whole row id via monotonically_increasing_id — deterministic within a
    plan, never a Python RNG."""
    return df.withColumn(SALT_COL, (F.monotonically_increasing_id() % n_salts).cast("int"))


def replicate_for_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Explode the build side once per salt value so a salted probe side can
    still match every row: build rows are replicated n_salts times."""
    return df.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )


def salted_join(
    probe: DataFrame, build: DataFrame, on: Column, n_salts: int = 16
) -> DataFrame:
    """Skew-resistant inner equi-join: probe side salted, build side
    replicated, join key extended with the salt so each hot key spreads over
    n_salts shuffle partitions. Semantically identical to
    probe.join(build, on) — every output row is driven by the salted-once
    probe side, so no row is duplicated per salt."""
    p = salted(probe, n_salts)
    b = replicate_for_salt(build, n_salts)
    cond = on & (p[SALT_COL] == b[SALT_COL])
    return p.join(b, cond).drop(SALT_COL)


#: merge functions usable to combine per-salt partials into the final value
_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def aggregate_two_phase(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    n_salts: int = 16,
    merge: dict[str, str] | str = "sum",
) -> DataFrame:
    """Skew-resistant aggregation: pre-aggregate on (keys + salt), then
    final-aggregate on keys. ``aggs`` holds the *partial* expressions;
    ``merge`` names how each partial combines across salts — "sum" (SUM and
    COUNT partials), "min", or "max" — either one name for all or a per-column
    dict. Non-decomposable aggregates (AVG, STDDEV) must be expressed as
    decomposable partials by the caller (e.g. AVG = sum / count computed after
    the merge). Spark's own partial aggregation covers the common case — use
    this when a single group dwarfs the rest and you need the partials spread
    across partitions first."""
    merges = {n: merge for n in aggs} if isinstance(merge, str) else dict(merge)
    unknown = {n: m for n, m in merges.items() if m not in _MERGE_FNS} or {
        n: "<missing>" for n in aggs if n not in merges
    }
    if unknown:
        raise ValueError(
            f"aggregate_two_phase merge must map every agg to one of "
            f"{sorted(_MERGE_FNS)}; got {unknown}"
        )
    partial = salted(df, n_salts).groupBy(*keys, SALT_COL).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[_MERGE_FNS[merges[n]](n).alias(n) for n in aggs]
    )


def skew_report(df: DataFrame, key: str, topk: int = 20) -> DataFrame:
    """Pre-join skew diagnostic: the ``topk`` hottest values of ``key`` with
    their exact counts, corpus share (ppm) and hotness vs the mean key
    (x100) — the table a planner reads before deciding between plain
    shuffle, AQE skew-split, and explicit salting. Cost shape at 100 TB:
    one map-side-combinable count aggregate (|keys| rows), a
    TakeOrderedAndProject top-k, and a broadcast 1-row total — the corpus
    itself is scanned once and never reshuffled by anything wider than the
    key. All derived measures are integer floor-divisions of exact counts
    (engine-portable, no doubles)."""
    from skinnerdb_spark.queries.util import ranked_topk

    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top = ranked_topk(counts, [("cnt", "desc"), (key, "asc")], topk)
    return top.crossJoin(F.broadcast(tot)).select(
        "rnk",
        key,
        "cnt",
        F.expr("cnt * 1000000 DIV total").alias("share_ppm"),
        F.expr("cnt * n_keys * 100 DIV total").alias("hot_x100"),
    )


def recommend_salts(
    df: DataFrame,
    key: str,
    cap: int = 64,
    partitions: int | None = None,
) -> int:
    """How many salts (1 = don't salt) a shuffle on ``key`` needs so the
    hottest key's rows spread to roughly the ideal per-partition share:
    with P shuffle partitions and ``ideal = total/P`` rows per partition,
    a key staying under ``2 * ideal`` is AQE's problem, not ours
    (return 1); above it, fan the key out over ``ceil(max_cnt / ideal)``
    salts, capped. The two-row aggregate is the only driver-side data —
    bounded at any scale. Feeds :func:`salted_join` /
    :func:`aggregate_two_phase` n_salts."""
    p = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    row = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.max("cnt").alias("mx"), F.sum("cnt").alias("tot"))
        .first()
    )
    if not row or row.tot is None:
        return 1
    ideal = max(1, row.tot // p)
    if row.mx <= 2 * ideal:
        return 1
    return int(min(cap, -(-row.mx // ideal)))
