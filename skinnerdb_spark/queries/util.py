"""Shared helpers for query modules."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skinnerdb_spark.catalog import read_table  # noqa: F401  (re-export)


def adaptive(df: DataFrame) -> DataFrame:
    """Route a built query through runtime-adaptive join ordering
    (plans/graph.py): the join graph is extracted from the analyzed plan,
    the candidate order with the lowest sampled C_out (summed join output
    rows on a seeded sample, each candidate executed once) wins, and the
    learned order is cached per graph signature. Ineligible shapes return the input
    plan unchanged — wrapping is always semantics-preserving."""
    from skinnerdb_spark.plans.graph import adaptive_reorder

    return adaptive_reorder(df).df


def ranked_topk(
    df: DataFrame, spec: list[tuple[str, str]], k: int, rnk_col: str = "rnk"
) -> DataFrame:
    """Global top-k with a dense 1..k rank column, WITHOUT the unpartitioned
    window (`row_number() OVER (ORDER BY ...)`) that moves the whole input
    to one partition. Plan: ``orderBy().limit(k)`` becomes
    TakeOrderedAndProject (per-partition top-k, driver merges k rows — the
    distributed top-k idiom); the k survivors are then gathered into ONE
    bounded array (global ``collect_list`` over ≤k rows), ordered with an
    ``array_sort`` comparator that encodes the asc/desc spec, and
    ``posexplode``d back to rows with rank = position + 1.

    Why this shape (VERDICT r6 item 1): the previous broadcast
    self-theta-join consumed ``top`` TWICE, re-executing the entire upstream
    lineage on both the probe and broadcast sides — for ``graph_pagerank``
    that doubled a 3-iteration join pipeline. Here the upstream plan feeds a
    single aggregate, so it executes exactly once BY CONSTRUCTION (no
    optimizer-dependent exchange reuse, no checkpoint that would shift work
    out of a caller's timed region), and everything stays JVM-side.

    ``spec`` is the total order as (column, 'asc'|'desc') pairs — it MUST be
    a total order over the rows (tie-broken) and the sort columns must be
    non-null, so position+1 equals "1 + |strictly-better rows|". k is
    bounded small (≤50 at every call site), so the single-row array state is
    constant-size at any input scale."""
    order_exprs = [
        F.desc(c) if d == "desc" else F.asc(c) for c, d in spec
    ]
    top = df.orderBy(*order_exprs).limit(k)
    arr = top.agg(F.collect_list(F.struct(*df.columns)).alias("__rows"))

    def _cmp(lhs: Column, rhs: Column) -> Column:
        out: Column = F.lit(0)
        for c, d in reversed(spec):
            lt, gt = (1, -1) if d == "desc" else (-1, 1)
            out = (
                F.when(lhs[c] < rhs[c], F.lit(lt))
                .when(lhs[c] > rhs[c], F.lit(gt))
                .otherwise(out)
            )
        return out

    return (
        arr.select(F.array_sort("__rows", _cmp).alias("__rows"))
        .select(F.posexplode("__rows").alias("__pos", "__row"))
        .select(
            *[F.col("__row")[c].alias(c) for c in df.columns],
            (F.col("__pos") + 1).cast("bigint").alias(rnk_col),
        )
    )


def ts(s: str) -> Column:
    """TIMESTAMP_NTZ literal (test data stores dates as timestamp_ntz)."""
    if len(s) == 10:
        s = s + " 00:00:00"
    return F.expr(f"TIMESTAMP_NTZ '{s}'")
