"""Temporal join operators Spark lacks natively: as-of join and range join.

The reference has neither (its only join is N-way inner equi-join, SURVEY
§2.3); these are the custom-operator tier the prompt's data-pipeline target
needs (point-in-time feature lookup, interval matching). Both are built as
compositions of existing DataFrame ops — no UDFs:

- as-of: union both sides, one window pass per key ordered by time, carry
  the latest right-side row forward (last_value ignoreNulls). One shuffle on
  (key), linear in |left|+|right| — the scalable alternative to the naive
  per-left-row subquery.
- range: equi-join on coarse time buckets + residual refinement, so interval
  matching shuffles on bounded bucket keys instead of exploding to a
  cross product. Intervals spanning buckets are handled by replicating the
  right side once per covered bucket.

DuckDB 1.0 implements ASOF JOIN natively and arbitrary inequality joins —
both operators are therefore fully oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skinnerdb_spark.functions.exact import DS, dsum
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tiebreak: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each left row: attach the nearest right row within the same key —
    ``direction="backward"`` (default) the greatest right_ts <= left_ts,
    ``direction="forward"`` the smallest right_ts >= left_ts. Inner
    semantics — left rows with no match are dropped. Columns of both
    inputs are preserved (right_ts column included, renamed to its
    original name).

    ``tiebreak`` names a unique right-side column that breaks ties among
    right rows sharing (key, right_ts): backward keeps the GREATEST
    tiebreak, forward the SMALLEST (each matching its DuckDB arg_max/
    arg_min oracle dedupe), deterministically. Without it, ties resolve
    arbitrarily (Spark's window order among equal sort keys is not stable
    run-to-run)."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    lcols = left.columns
    rcols = [c for c in right.columns if c != key]
    l_part = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*lcols).alias("__l"),
    )
    r_part = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c) for c in rcols]).alias("__r"),
    )
    lp = l_part.withColumn("__r", F.lit(None).cast(r_part.schema["__r"].dataType))
    rp = r_part.withColumn("__l", F.lit(None).cast(l_part.schema["__l"].dataType)).select(
        "__k", "__t", "__is_left", "__l", "__r"
    )
    u = lp.select("__k", "__t", "__is_left", "__l", "__r").unionByName(rp)
    # right rows sort before left rows at equal timestamps so a right row at
    # exactly left_ts is visible to that left row (ties inclusive: <= / >=);
    # among right rows at the same timestamp the winner is placed LAST in
    # walk order (it is the row F.last carries): backward walks timestamps
    # ascending and keeps max(tiebreak); forward walks DESCENDING (so the
    # carried row is the nearest following) and keeps min(tiebreak)
    if direction == "backward":
        order = [F.col("__t"), F.col("__is_left")]
        if tiebreak is not None:
            order.append(F.when(F.col("__is_left") == 0, F.col("__r")[tiebreak]))
    else:
        order = [F.col("__t").desc(), F.col("__is_left")]
        if tiebreak is not None:
            order.append(
                F.when(F.col("__is_left") == 0, F.col("__r")[tiebreak]).desc_nulls_first()
            )
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
    out = carried.filter((F.col("__is_left") == 1) & F.col("__last_r").isNotNull())
    return out.select(
        *[F.col("__l")[c].alias(c) for c in lcols],
        *[F.col("__last_r")[c].alias(c) for c in rcols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    start: str,
    end: str,
) -> DataFrame:
    """Interval join: left rows whose ts falls in [right.start, right.end)
    for the same key. Right intervals are replicated per covered one-week
    bucket and the join runs equi on (key, bucket) + residual range filter —
    the bucketed-range-join strategy (bounded shuffle keys, no cross product)."""
    seconds = 7 * 86400
    lb = left.withColumn(
        "__bucket", (F.unix_timestamp(F.col(ts).cast("timestamp")) / seconds).cast("long")
    )
    rb = right.withColumn(
        "__b0", (F.unix_timestamp(F.col(start).cast("timestamp")) / seconds).cast("long")
    ).withColumn(
        "__b1", (F.unix_timestamp(F.col(end).cast("timestamp")) / seconds).cast("long")
    )
    rb = rb.withColumn("__bucket", F.explode(F.sequence("__b0", "__b1"))).drop("__b0", "__b1")
    return (
        lb.join(rb, [key, "__bucket"])
        .filter((F.col(ts) >= F.col(start)) & (F.col(ts) < F.col(end)))
        .drop("__bucket")
    )


# --------------------------------------------------------------------------
# registered, oracle-verified uses over the warehouse
# --------------------------------------------------------------------------
@register(
    "asof_latest_order",
    f"""
    SELECT e.event_type,
           COUNT(*) AS n_events,
           {DS('o.o_totalprice')} AS matched_order_value
    FROM (SELECT user_id, ts, event_type FROM events) e
    ASOF JOIN
         (SELECT o_custkey, o_orderdate,
                 arg_max(o_totalprice, o_orderkey) AS o_totalprice
          FROM orders GROUP BY o_custkey, o_orderdate) o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    GROUP BY e.event_type
    """,
    tags=("temporal", "asof", "pipeline"),
)
def asof_latest_order(spark, sf_dir):
    """Point-in-time lookup: each event matched to the user's latest order at
    or before the event (events are 2024, orders 1995-2001, so every event
    matches its user's final order — semantics still fully exercised:
    per-key ordering, ties, carry-forward). Ties among same-day orders break
    deterministically on max o_orderkey (mirrored by the oracle's arg_max
    dedupe — ASOF JOIN alone leaves same-timestamp winners arbitrary)."""
    e = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_totalprice", "o_orderkey"
    )
    joined = asof_join(
        e, o, key="user_id", left_ts="ts", right_ts="o_orderdate", tiebreak="o_orderkey"
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("o_totalprice")).alias("matched_order_value"),
    )


@register(
    "range_join_ship_window",
    f"""
    SELECT l.l_returnflag, COUNT(*) AS n_matches, {DS('l.l_quantity')} AS qty_sum
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey % 100 = o.o_orderkey % 100
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderkey < 500
    GROUP BY l.l_returnflag
    """,
    tags=("temporal", "range", "pipeline"),
)
def range_join_ship_window(spark, sf_dir):
    """Interval matching: lineitems shipped within a week of (bounded set of)
    orders, keyed by a coarse hash — exercises the bucketed range-join
    strategy end-to-end."""
    l = read_table(spark, sf_dir, "lineitem").withColumn("k", F.col("l_orderkey") % 100)
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .withColumn("k", F.col("o_orderkey") % 100)
        .withColumn("win_end", F.col("o_orderdate") + F.expr("INTERVAL 7 DAY"))
    )
    joined = range_join(
        l, o.select("k", "o_orderdate", "win_end"),
        key="k", ts="l_shipdate", start="o_orderdate", end="win_end",
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_matches"),
        dsum(F.col("l_quantity")).alias("qty_sum"),
    )


@register(
    "asof_first_shipment",
    f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(DATE_DIFF('day', o.o_orderdate, s.l_shipdate)) AS BIGINT)
               AS total_wait_days,
           {DS('s.first_qty')} AS first_ship_qty
    FROM orders o
    ASOF JOIN (SELECT l_orderkey, l_shipdate,
                      MIN(l_quantity) AS first_qty
               FROM lineitem GROUP BY l_orderkey, l_shipdate) s
      ON o.o_orderkey = s.l_orderkey AND o.o_orderdate <= s.l_shipdate
    GROUP BY o.o_orderpriority
    """,
    tags=("temporal", "asof", "pipeline"),
)
def asof_first_shipment(spark, sf_dir):
    """FORWARD as-of join — the complement of asof_latest_order's backward
    lookup: each order matched to its FIRST shipment at or after the order
    date (the kdb aj-forward / DuckDB `ASOF ... ON l.ts <= r.ts` shape),
    reporting per priority class the order count, total order-to-ship wait
    days, and the decimal-exact smallest line quantity of the first ship
    day. Ties among same-day lines are pre-deduped with MIN(l_quantity) in
    BOTH engines — a value-deterministic rule chosen deliberately: the
    synthetic lineitem does NOT guarantee l_linenumber uniqueness within
    (orderkey, shipdate) (8 duplicate groups at sf0.01 with differing
    quantities), so a min_by/arg_min on line number is partition-order
    nondeterministic exactly where it matters.

    r12 plan shape: the LEFT key (o_orderkey) is UNIQUE, so the forward
    as-of degenerates exactly to a filtered min-struct aggregate — for
    the one left row of each key, "smallest right_ts >= left_ts, then
    smallest tiebreak" IS ``MIN(STRUCT(l_shipdate, l_quantity))`` over
    the lines passing ``l_shipdate >= o_orderdate`` (struct min compares
    shipdate first, then quantity — reproducing the same-day MIN(qty)
    pre-dedup; inner semantics: orders with no eligible line drop from
    the groupBy, as the ASOF inner join dropped them). This replaces the
    union + per-key DESCENDING sort + window carry (which pays a
    corpus-wide sort to support MANY left rows per key — machinery this
    entry never uses; asof_latest_order and the component tests keep the
    general carry path exercised) with one equi-join shuffle + a
    map-side-combinable aggregate that reuses the join's partitioning.
    sf10: 20.9/14.9 -> 6.1/5.5 s, rows identical; oracle (DuckDB native
    ASOF JOIN) unchanged."""
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderdate", "o_orderpriority"
    )
    l = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_shipdate", "l_quantity"
    )
    per_order = (
        l.join(o, "k")
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("k")
        .agg(
            F.min(F.struct("l_shipdate", "l_quantity")).alias("fs"),
            # o_orderkey is unique, so these are constant within the
            # group — MIN is a deterministic carry-through
            F.min("o_orderdate").alias("o_orderdate"),
            F.min("o_orderpriority").alias("o_orderpriority"),
        )
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.datediff(F.col("fs.l_shipdate"), F.col("o_orderdate")))
        .cast("bigint")
        .alias("total_wait_days"),
        dsum(F.col("fs.l_quantity")).alias("first_ship_qty"),
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    dedup: bool = False,
) -> DataFrame:
    """Interval-x-interval OVERLAP join (no equi key): both sides explode
    into the calendar months their interval covers, the join runs equi on
    the month bin, and the exact closed-interval overlap predicate
    (a_start <= b_end AND b_start <= a_end) filters inside the join.

    Scale shape: a naive overlap theta-join compiles to a broadcast
    nested-loop / cartesian plan; binning turns it into one hash exchange
    on bounded keys. Replication factor per row = months spanned (interval
    length / bin width — pick the bin at or above the typical interval so
    it stays 1-2). An overlapping pair shares at least one covered month
    (overlap implies a common day, hence a common month), so no pair is
    missed; a pair CAN meet in several shared months. ``dedup=True`` keeps
    exactly ONE copy per overlapping pair via the canonical-bin filter —
    a pair survives only in the month of GREATEST(a_start, b_start), the
    overlap's first day, which is provably a covered month of BOTH
    intervals (a_start <= max(a_start, b_start): trivial / overlap gives
    b_start <= a_end, symmetrically for b), so the dedup is a free
    map-side filter inside the join instead of a full-output DISTINCT
    shuffle (VERDICT r10 item 5: the DISTINCT was ~half the
    li_interval_overlap cost at sf10). ``dedup=False`` preserves the
    multi-bin contract for callers that dedupe on a wider pair identity."""
    ab = a.withColumn(
        "__bin",
        F.explode(F.sequence(F.date_trunc("month", F.col(a_start)).cast("date"),
                             F.date_trunc("month", F.col(a_end)).cast("date"),
                             F.expr("INTERVAL 1 MONTH"))),
    )
    bb = b.withColumn(
        "__bin",
        F.explode(F.sequence(F.date_trunc("month", F.col(b_start)).cast("date"),
                             F.date_trunc("month", F.col(b_end)).cast("date"),
                             F.expr("INTERVAL 1 MONTH"))),
    )
    joined = ab.join(bb, "__bin").filter(
        (F.col(a_start) <= F.col(b_end)) & (F.col(b_start) <= F.col(a_end))
    )
    if dedup:
        joined = joined.filter(
            F.col("__bin")
            == F.date_trunc(
                "month", F.greatest(F.col(a_start), F.col(b_start))
            ).cast("date")
        )
    return joined.drop("__bin")


@register(
    "li_interval_overlap",
    f"""
    WITH a AS (
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(l_shipdate AS DATE) AS a_start,
               CAST(l_shipdate AS DATE)
                   + CAST(1 + l_orderkey % 21 AS INT) AS a_end
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
          AND l_quantity > 45),
    b AS (
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS b_start,
               CAST(o_orderdate AS DATE) + 30 AS b_end
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 20000
          AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'),
    pairs AS (
        SELECT DISTINCT a.l_orderkey, a.l_linenumber, a.l_quantity, b.o_orderkey,
               b.b_start
        FROM a JOIN b ON a.a_start <= b.b_end AND b.b_start <= a.a_end)
    SELECT strftime(date_trunc('month', b_start), '%Y-%m') AS month,
           COUNT(*) AS n_pairs,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           {DS('l_quantity')} AS qty_sum
    FROM pairs GROUP BY month ORDER BY month
    """,
    tags=("temporal", "range", "interval", "pipeline"),
)
def li_interval_overlap(spark, sf_dir):
    """Interval-x-interval overlap join via month-bin equi-join: heavy 1995
    shipments (synthetic deterministic transit window, 1-21 days) matched
    against urgent orders' 30-day fulfilment windows wherever the two
    intervals overlap — the no-equi-key interval-matching shape that a
    naive plan answers with a nested-loop cross product. The bin turns it
    into ONE hash exchange; each interval lands in at most 2 month bins;
    pair dedup (a pair can meet in both shared months) is the canonical-bin
    FILTER inside the join (interval_overlap_join dedup=True) — map-side,
    zero extra shuffle — not a DISTINCT over the pair output. Oracle:
    DuckDB's native inequality join over the identical intervals.

    Output-boundedness (r9 sf1 ladder lesson): with BOTH interval sets
    growing with SF the overlap-pair OUTPUT grows as SF^2 — 94 GB of
    spill at sf1 regardless of join strategy. The B side is therefore
    bounded by an absolute key range (o_orderkey < 20000, the
    range_join_ship_window precedent): a fixed probe set of windows, so
    pairs scale linearly with the corpus. Interval-x-interval matching
    with two corpus-sized sides is output-bound BY PROBLEM DEFINITION —
    callers wanting that shape need an aggregate pushed below the pair
    list, not a pair list."""
    li = read_table(spark, sf_dir, "lineitem")
    a = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_quantity") > 45)
        ).select(
            "l_orderkey", "l_linenumber", "l_quantity",
            F.col("l_shipdate").cast("date").alias("a_start"),
            F.date_add(
                F.col("l_shipdate").cast("date"),
                (1 + F.col("l_orderkey") % 21).cast("int"),
            ).alias("a_end"),
        )
    )
    o = read_table(spark, sf_dir, "orders")
    b = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderkey") < 20000)
            & (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        ).select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("b_start"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("b_end"),
        )
    )
    # dedup=True replaces the former full-output DISTINCT: each overlapping
    # pair is kept only in its canonical (overlap-start) month bin, so the
    # dedup costs a map-side filter, not a 5-column shuffle of every pair
    # (VERDICT r10 item 5 — the DISTINCT dominated the sf10 cost)
    pairs = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", dedup=True
    ).select("l_orderkey", "l_linenumber", "l_quantity", "o_orderkey", "b_start")
    return (
        pairs.groupBy(F.date_format(F.date_trunc("month", "b_start"), "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
            dsum(F.col("l_quantity")).alias("qty_sum"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Gaps-and-islands coverage merge (r9 cont.): the interval-NORMALIZATION
# shape the temporal tier was missing — li_interval_overlap matches two
# interval sets, asof/range join them, but nothing yet MERGES a set of
# overlapping intervals into maximal covered spans ("islands"), the
# primitive behind SLA coverage, sensor uptime, and contract-period
# consolidation. Classic two-window sweep: running max of interval ends
# (per key, ordered by start) marks where a new island begins; a running
# sum of those marks numbers the islands. No self-join, no explode — two
# window passes on ONE exchange.
# --------------------------------------------------------------------------
@register(
    "li_shipping_islands",
    """
    WITH iv AS (
        SELECT l_suppkey,
               CAST(l_shipdate AS DATE) AS s,
               CAST(l_shipdate AS DATE)
                   + CAST(1 + l_partkey % 14 AS INT) AS e,
               l_orderkey, l_linenumber
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1995-07-01'),
    marked AS (
        SELECT l_suppkey, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY l_suppkey ORDER BY
                        s, e, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    >= s THEN 0 ELSE 1 END AS new_island
        FROM iv),
    numbered AS (
        SELECT l_suppkey, s, e,
               SUM(new_island) OVER (PARTITION BY l_suppkey ORDER BY
                   s, e, new_island DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM marked),
    islands AS (
        SELECT l_suppkey, island,
               MIN(s) AS island_start, MAX(e) AS island_end,
               COUNT(*) AS n_intervals
        FROM numbered GROUP BY l_suppkey, island)
    SELECT l_suppkey,
           CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(CAST(island_end - island_start AS INT) + 1) AS BIGINT)
               AS covered_days,
           CAST(MAX(CAST(island_end - island_start AS INT) + 1) AS BIGINT)
               AS max_island_days,
           MIN(island_start) AS first_start,
           MAX(island_end) AS last_end
    FROM islands GROUP BY l_suppkey ORDER BY l_suppkey
    """,
    tags=("temporal", "interval", "window", "surplus", "pipeline"),
)
def li_shipping_islands(spark, sf_dir):
    """Per-supplier shipping-coverage islands over H1-1995: each lineitem
    occupies [shipdate, shipdate + transit] (deterministic 1-14 day transit
    from l_partkey); overlapping-or-touching intervals merge into maximal
    islands via the running-max-of-ends sweep, then each supplier reports
    interval count, island count, total covered days, the longest island,
    and the coverage extent.

    Scale shape: ONE exchange on l_suppkey, then two window passes over
    each supplier's intervals (running MAX(e) to flag island starts,
    running SUM to number them) and two aggregates — never a self-join or
    an interval explode. Windows are per-supplier, so parallelism is the
    supplier count and per-partition state is one row; at 100 TB the
    suppliers with pathological interval counts are the exchange's skew
    keys, handled like any group-by skew (AQE/salting), not a plan change.
    Island identity is order-tie-proof: rows with equal (s, e) can permute
    without changing which island any row joins, because the running max
    already covers either order; the full ORDER BY is pinned anyway.
    Every output column is an exact integer or a DATE.

    Reference analogue: none (SURVEY §2 temporal extension tier; DuckDB
    replays the identical two-window sweep)."""
    li = read_table(spark, sf_dir, "lineitem")
    iv = li.filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-07-01")
    ).select(
        "l_suppkey",
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            (1 + F.col("l_partkey") % 14).cast("int"),
        ).alias("e"),
        "l_orderkey",
        "l_linenumber",
    )
    w_prev = (
        Window.partitionBy("l_suppkey")
        .orderBy("s", "e", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "l_suppkey",
        "s",
        "e",
        F.when(F.max("e").over(w_prev) >= F.col("s"), 0).otherwise(1).alias(
            "new_island"
        ),
    )
    w_run = (
        Window.partitionBy("l_suppkey")
        .orderBy("s", "e", F.col("new_island").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = marked.select(
        "l_suppkey", "s", "e", F.sum("new_island").over(w_run).alias("island")
    )
    islands = numbered.groupBy("l_suppkey", "island").agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    span_days = F.expr("CAST(datediff(island_end, island_start) AS INT) + 1")
    return (
        islands.groupBy("l_suppkey")
        .agg(
            F.sum("n_intervals").cast("bigint").alias("n_intervals"),
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.sum(span_days).cast("bigint").alias("covered_days"),
            F.max(span_days).cast("bigint").alias("max_island_days"),
            F.min("island_start").alias("first_start"),
            F.max("island_end").alias("last_end"),
        )
        .orderBy("l_suppkey")
    )


# --------------------------------------------------------------------------
# Time-weighted average (r9 cont.): the interval-WEIGHTED aggregate the
# state tier was missing — ev_state_history builds SCD-2 intervals,
# li_shipping_islands merges them, but nothing weights a VALUE by how long
# it was held, the semantics behind average position size, mean sensor
# reading, and time-in-state billing (a plain AVG over readings
# oversamples bursts; TWA is the physically correct mean).
# --------------------------------------------------------------------------
@register(
    "ev_time_weighted_avg",
    """
    WITH seq AS (
        SELECT user_id, value, ts,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS nxt
        FROM events WHERE user_id < 50),
    held AS (
        SELECT user_id, value,
               epoch_us(nxt) - epoch_us(ts) AS dur_us
        FROM seq WHERE nxt IS NOT NULL)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(dur_us) AS BIGINT) AS held_us,
           CAST(SUM(CAST(ROUND(value * dur_us) AS BIGINT)) AS DOUBLE)
               / SUM(dur_us) AS twa_value,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
               AS plain_avg
    FROM held GROUP BY user_id ORDER BY user_id
    """,
    tags=("temporal", "window", "surplus", "pipeline"),
)
def ev_time_weighted_avg(spark, sf_dir):
    """Per-user time-weighted average of the event value over a fixed probe
    set of users (user_id < 50, the bounded-probe precedent): each event's
    value is held until the user's next event (LEAD over one per-user
    window); TWA = sum(value x held-seconds) / sum(held-seconds), reported
    next to the plain per-event AVG it corrects. Each user's last event has
    no successor and is excluded (half-open span semantics).

    Scale shape: one exchange on user_id, one LEAD window pass, one
    aggregate — identical to ev_state_history's plan class. Durations are
    exact epoch-MICROsecond integers (epoch_us / unix_micros — second
    truncation diverges across engines on sub-second timestamps). Each
    aggregate has its own exact carrier: `twa_value` quantizes each
    value x duration product to integer value-microseconds with ROUND
    (half-away-from-zero in both engines, the chi2 precedent) BEFORE the
    sum — at product magnitude ~1e12 a 6-decimal DECIMAL cast would round
    BELOW one double ulp, where engine tie-breaking diverges — so its
    accumulation is associative BIGINT addition; `plain_avg` sums the raw
    values as DECIMAL(30,6) (order-independent). Both end in ONE final
    IEEE division per user, so the doubles are bit-identical across
    engines at any parallelism. The probe set bounds output rows; the full-population
    variant is the same plan with the filter dropped (output then scales
    with |users|, linear).

    Reference analogue: none (SURVEY §2 temporal extension tier)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "value", "ts", F.lead("ts").over(w).alias("nxt")
    )
    held = seq.filter(F.col("nxt").isNotNull()).select(
        "user_id",
        "value",
        (
            F.unix_micros(F.col("nxt").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("dur_us"),
    )
    return (
        held.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("dur_us").cast("bigint").alias("held_us"),
            (
                F.sum(
                    F.round(F.col("value") * F.col("dur_us")).cast("bigint")
                ).cast("double")
                / F.sum("dur_us")
            ).alias("twa_value"),
            (
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("plain_avg"),
        )
        .orderBy("user_id")
    )
