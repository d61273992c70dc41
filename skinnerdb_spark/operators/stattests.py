"""Hypothesis-testing operators — the statistical checks a data pipeline
runs on itself (beyond-reference tier).

Two standard tests, each reduced to exact integer aggregates plus a fixed
IEEE-double expression shape so the result is bit-identical across engines
(the ev_anomaly_hours / sample_temperature_mix precedent: +,-,*,/ and SQRT
are IEEE-754 correctly rounded in BOTH Spark and DuckDB when the operand
order is identical; libm functions like log/pow are NOT and never appear):

- :func:`stats_ab_ztest` — two-proportion z-test on an A/B split of the
  events stream (did variant B convert better than variant A?). The whole
  test collapses to FOUR exact integers (n/x per arm) produced by one
  per-user aggregate + one conditional fold; the z statistic is a single
  fully-parenthesized double expression over them.
- :func:`stats_chi2_independence` — chi-square independence test of the
  (source, lang) contingency table — the drift / dependence check run when
  validating that a corpus re-crawl didn't shift its language mix per
  source. Expected counts are one double division of exact integer
  marginals; each cell's (O-E)^2/E contribution is quantized to nano-units
  (ROUND(x*1e9) -> BIGINT, half-away-from-zero in both engines) BEFORE the
  sum, so the reduction is associative integer addition — no
  float-accumulation-order dependence at any parallelism.

Scale shapes: both are one corpus-scan aggregate (map-side combinable) into
a constant-size frame; the test arithmetic runs on <= |sources| x |langs|
rows. At 100 TB these are scan-bound, shuffle-free beyond the tiny
aggregate exchange.

Reference analogue: none — SURVEY §2 extension surface (data-quality /
monitoring tier alongside profile_table and stats_skew_report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register

Z_CRIT = "1.96"  # two-sided 5% critical value, shared literal text


#: per-user purchase-value threshold defining "converted" — sits near the
#: median of the (SF-stationary) per-user purchase total, so both classes
#: are populated at every scale factor
AB_CONV_THRESHOLD = "600.0"

_AB_ORACLE = f"""
    WITH conv AS (
        SELECT user_id % 2 AS variant,
               CASE WHEN COALESCE(
                        SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(value AS DECIMAL(30,6)) END)
                        > {AB_CONV_THRESHOLD}, FALSE)
                    THEN 1 ELSE 0 END AS c
        FROM events GROUP BY user_id),
    agg AS (
        SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN variant = 0 THEN c ELSE 0 END) AS BIGINT) AS x0,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN variant = 1 THEN c ELSE 0 END) AS BIGINT) AS x1
        FROM conv),
    t AS (
        SELECT n0, x0, n1, x1,
               CAST(x0 AS DOUBLE) / NULLIF(CAST(n0 AS DOUBLE), 0.0) AS p0,
               CAST(x1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0.0) AS p1,
               CAST(x0 + x1 AS DOUBLE) / NULLIF(CAST(n0 + n1 AS DOUBLE), 0.0)
                   AS pp
        FROM agg),
    zt AS (
        SELECT n0, x0, n1, x1, p0, p1, pp,
               (p0 - p1) / NULLIF(SQRT((pp * (1.0 - pp))
                            * ((1.0 / NULLIF(CAST(n0 AS DOUBLE), 0.0))
                               + (1.0 / NULLIF(CAST(n1 AS DOUBLE), 0.0)))),
                           0.0) AS z
        FROM t)
    SELECT n0, x0, n1, x1, p0, p1, pp, z, ABS(z) > {Z_CRIT} AS significant
    FROM zt
"""


@register("stats_ab_ztest", _AB_ORACLE, tags=("stats", "hypothesis", "events"))
def stats_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: users split into variants by ``user_id % 2``,
    conversion = per-user purchase value above {AB_CONV_THRESHOLD} (the
    threshold sits at the median of the SF-stationary per-user total, so
    BOTH classes fire at every scale — "any purchase" saturates to p=1 and
    a zero-variance division). Emits per-arm (n, x), the three proportions,
    the z statistic, and the two-sided 5% verdict.

    The conversion sum runs in exact DECIMAL(30,6) (functions/exact.py
    rationale — a boundary user must not flip with aggregation order), and
    the z expression is written ONCE, fully parenthesized, from the same
    four BIGINTs in both engines: every step (+,-,*,/,SQRT) is
    IEEE-correctly-rounded, so identical operand order gives identical
    bits. Degenerate variance (p pooled in {{0, 1}}) yields NULL z via the
    same NULLIF guard in both dialects. One events scan -> per-user decimal
    sum (map-side combinable) -> one 4-integer fold; nothing downstream
    exceeds one row."""
    ev = read_table(spark, sf_dir, "events")
    dec_val = F.when(
        F.col("event_type") == "purchase", F.col("value").cast("decimal(30,6)")
    )
    conv = (
        ev.groupBy("user_id")
        .agg(F.sum(dec_val).alias("s"))
        .select(
            (F.col("user_id") % 2).alias("variant"),
            F.when(
                F.coalesce(
                    F.col("s") > F.lit(float(AB_CONV_THRESHOLD)), F.lit(False)
                ),
                1,
            )
            .otherwise(0)
            .alias("c"),
        )
    )
    return ab_ztest_from_conv(conv)


def ab_ztest_from_conv(conv: DataFrame) -> DataFrame:
    """The test itself, factored from the corpus scan: fold a
    (variant, c) frame to the four exact integers and evaluate the z
    expression (docstring above). Reused by the streaming monitor
    (streaming/windows.py::stream_ab_monitor), which maintains the conv
    frame incrementally and recomputes the statistic per micro-batch —
    identical arithmetic, so stream and batch agree bit-for-bit."""
    agg = conv.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("variant") == 0, F.col("c")).otherwise(0)).cast("bigint").alias("x0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("variant") == 1, F.col("c")).otherwise(0)).cast("bigint").alias("x1"),
    )
    nz = lambda c: F.nullif(c, F.lit(0.0))  # noqa: E731
    t = agg.select(
        "n0", "x0", "n1", "x1",
        (F.col("x0").cast("double") / nz(F.col("n0").cast("double"))).alias("p0"),
        (F.col("x1").cast("double") / nz(F.col("n1").cast("double"))).alias("p1"),
        ((F.col("x0") + F.col("x1")).cast("double")
         / nz((F.col("n0") + F.col("n1")).cast("double"))).alias("pp"),
    )
    z = (F.col("p0") - F.col("p1")) / nz(
        F.sqrt(
            (F.col("pp") * (F.lit(1.0) - F.col("pp")))
            * ((F.lit(1.0) / nz(F.col("n0").cast("double")))
               + (F.lit(1.0) / nz(F.col("n1").cast("double"))))
        )
    )
    return t.select(
        "n0", "x0", "n1", "x1", "p0", "p1", "pp",
        z.alias("z"),
        (F.abs(z) > float(Z_CRIT)).alias("significant"),
    )


_CHI2_ORACLE = """
    WITH cell AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY source, lang),
    srcs AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rt FROM cell GROUP BY source),
    lngs AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ct FROM cell GROUP BY lang),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell),
    full_grid AS (
        SELECT s.source, l.lang, s.rt, l.ct, t.n,
               COALESCE(c.o, 0) AS o
        FROM srcs s CROSS JOIN lngs l CROSS JOIN tot t
        LEFT JOIN cell c ON c.source = s.source AND c.lang = l.lang),
    contrib AS (
        SELECT n,
               CAST(ROUND(
                   (((CAST(o AS DOUBLE)
                      - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                         / CAST(n AS DOUBLE)))
                     * (CAST(o AS DOUBLE)
                        - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                           / CAST(n AS DOUBLE))))
                    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                       / CAST(n AS DOUBLE)))
                   * 1000000000.0, 0) AS BIGINT) AS q
        FROM full_grid)
    SELECT (SELECT MAX(n) FROM contrib) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM srcs) AS n_sources,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lngs) AS n_langs,
           (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM srcs)
             * (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM lngs) AS dof,
           CAST(SUM(q) AS BIGINT) AS chi2_nano
    FROM contrib
"""


@register(
    "stats_chi2_independence",
    _CHI2_ORACLE,
    tags=("stats", "hypothesis", "pipeline"),
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of the (source, lang) contingency table:
    is language mix independent of source? Emits N, table dims, degrees of
    freedom, and the statistic in exact nano-units (sum of per-cell
    quantized contributions — associative, parallelism-independent).

    The grid is completed (sources x langs cross join, absent cells O=0)
    before the statistic: chi-square over only OBSERVED cells understates
    dependence — the zero cells are often exactly the signal. Everything
    after the one corpus-scan cell count runs on a <= |sources|*|langs|-row
    frame; marginals are windows/joins over that tiny frame, never a second
    scan."""
    d = read_table(spark, sf_dir, "documents")
    # cell is referenced four times (both marginals, the total, and the
    # grid join); localCheckpoint materializes the tiny contingency frame
    # eagerly so the corpus is scanned ONCE, not once per reference
    cell = (
        d.groupBy("source", "lang")
        .agg(F.count("*").alias("o"))
        .localCheckpoint(eager=True)
    )
    srcs = cell.groupBy("source").agg(F.sum("o").cast("bigint").alias("rt"))
    lngs = cell.groupBy("lang").agg(F.sum("o").cast("bigint").alias("ct"))
    tot = cell.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (
        srcs.crossJoin(lngs)
        .crossJoin(F.broadcast(tot))
        .join(cell, ["source", "lang"], "left")
        .select(
            "source", "lang", "rt", "ct", "n",
            F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("o"),
        )
    )
    e = (F.col("rt").cast("double") * F.col("ct").cast("double")
         / F.col("n").cast("double"))
    diff = F.col("o").cast("double") - e
    q = F.round((diff * diff) / e * F.lit(1000000000.0), 0).cast("bigint")
    contrib = grid.select("n", q.alias("q"))
    n_src = srcs.agg(F.count("*").cast("bigint").alias("n_sources"))
    n_lng = lngs.agg(F.count("*").cast("bigint").alias("n_langs"))
    return (
        contrib.agg(
            F.max("n").alias("n_docs"),
            F.sum("q").cast("bigint").alias("chi2_nano"),
        )
        .crossJoin(F.broadcast(n_src))
        .crossJoin(F.broadcast(n_lng))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            ((F.col("n_sources") - 1) * (F.col("n_langs") - 1)).alias("dof"),
            "chi2_nano",
        )
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (r9): the nonparametric two-sample location test — and the
# scale exercise of computing a RANK statistic without any global sort.
# --------------------------------------------------------------------------
MWU_BUCKET_CENTS = 100_000  # $1000-wide value buckets for the prefix sum:
                            # bucket count is bounded by the VALUE DOMAIN
                            # (order totals ~$900-$600k -> ~600 buckets),
                            # independent of row count

#: the oracle's two value-domain arms shared by the Mann-Whitney and KS
#: entries: each order total in exact cents with its arm (g: 1 = URGENT,
#: 0 = LOW) and per distinct value the count in each arm (per). CTE text to
#: follow a WITH.
_ARMS_CTES = """g AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    per AS (
        SELECT v,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1v,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0v
        FROM g GROUP BY v)"""


@register(
    "stats_mann_whitney",
    f"""
    WITH {_ARMS_CTES},
    c AS (
        SELECT v, n1v, n0v,
               CAST(COALESCE(SUM(n0v) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS c0below
        FROM per),
    agg AS (
        SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
               CAST(SUM(n0v) AS BIGINT) AS n0,
               CAST(SUM(2 * n1v * c0below + n1v * n0v) AS BIGINT) AS u2,
               CAST(SUM((n1v + n0v) * (n1v + n0v) * (n1v + n0v)
                        - (n1v + n0v)) AS BIGINT) AS s_ties
        FROM c)
    SELECT n1, n0, u2, s_ties,
           (CAST(u2 - n1 * n0 AS DOUBLE) / 2)
           / SQRT(CAST(n1 AS DOUBLE) * n0
                  * ((n1 + n0 + 1)
                     - CAST(s_ties AS DOUBLE) / ((n1 + n0) * (n1 + n0 - 1)))
                  / 12) AS z
    FROM agg
    """,
    tags=("stats", "hypothesis", "pipeline"),
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (tie-corrected normal approximation): do URGENT
    orders run larger than LOW-priority orders? U is a RANK statistic, and
    the textbook computation sorts the pooled sample — a global sort, the
    one thing a 100 TB aggregate must not do. Here U is computed from the
    VALUE DOMAIN instead: group by distinct order-total (exact cents),
    count each group's members per arm, and U2 (= 2U, kept integral so
    tie halves never touch floats) = sum over values of
    2*n1(v)*C0(<v) + n1(v)*n0(v), where C0(<v) is the below-value
    cumulative of the other arm — a prefix sum over the per-VALUE frame,
    computed with the same two-level idiom as sample_systematic_pps
    (bucket totals over $1000 value buckets, bounded driver offsets,
    bucket-partitioned window). No row-level sort, no corpus-wide window;
    every exchange is value-domain-sized. The z statistic (mean n1*n0/2,
    tie-corrected variance) is ONE fully-parenthesized IEEE expression
    over five exact integers — identical in DuckDB, so the entry is
    hash-exact (the stats_ab_ztest precedent). Tie-cube caveat: t^3 per
    distinct value stays in int64 up to ~2M ties per exact cent value."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    g = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("grp"),
    )
    per = g.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n1v"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n0v"),
    )
    per = per.withColumn("bucket", F.expr(f"v DIV {MWU_BUCKET_CENTS}"))
    # NOTE (r11 session 5, measured negative result): per is consumed
    # twice (offset collect + window path) so the scan + value aggregate
    # run twice per query — but an eager localCheckpoint of the
    # value-domain frame measured SLOWER at sf10 (4.47 -> 6.57 s,
    # interleaved best-of-2): materializing ~6M rows costs more than the
    # saved re-scan. The double execution stands, deliberately.
    btot = (
        per.groupBy("bucket").agg(F.sum("n0v").cast("bigint").alias("b0"))
        .orderBy("bucket")
        .collect()
    )  # bounded by the value domain, not the corpus
    offsets, running = [], 0
    for r in btot:
        offsets.append((r["bucket"], running))
        running += r["b0"]
    off = spark.createDataFrame(offsets, "bucket long, off0 long")
    win = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = (
        per.join(F.broadcast(off), "bucket")
        .withColumn(
            "c0below",
            (F.sum("n0v").over(win) + F.col("off0") - F.col("n0v")).cast("bigint"),
        )
    )
    agg = c.agg(
        F.sum("n1v").cast("bigint").alias("n1"),
        F.sum("n0v").cast("bigint").alias("n0"),
        F.sum(2 * F.col("n1v") * F.col("c0below") + F.col("n1v") * F.col("n0v"))
        .cast("bigint")
        .alias("u2"),
        F.sum(
            (F.col("n1v") + F.col("n0v")) * (F.col("n1v") + F.col("n0v"))
            * (F.col("n1v") + F.col("n0v")) - (F.col("n1v") + F.col("n0v"))
        )
        .cast("bigint")
        .alias("s_ties"),
    )
    return agg.select(
        "n1", "n0", "u2", "s_ties",
        F.expr(
            "(CAST(u2 - n1 * n0 AS DOUBLE) / 2)"
            " / SQRT(CAST(n1 AS DOUBLE) * n0"
            " * ((n1 + n0 + 1)"
            " - CAST(s_ties AS DOUBLE) / ((n1 + n0) * (n1 + n0 - 1)))"
            " / 12)"
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# CUSUM drift monitor (r9): the sequential-recurrence class — S_d depends
# nonlinearly (max with 0) on S_{d-1}, so neither a prefix sum nor a window
# frame can express it. The scale-correct realization: the recurrence runs
# over the DATE DOMAIN (bounded: a year of days = 365 rows whatever the
# corpus size), so the whole day series folds IN-ROW after one distributed
# daily aggregate — no corpus-wide window, no recursion, no driver loop.
# --------------------------------------------------------------------------

@register(
    "ev_cusum_drift",
    """
    WITH RECURSIVE
    daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY d),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS nd
            FROM daily),
    seq AS (SELECT d, n, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i
            FROM daily),
    c(i, d, n, sp, sn) AS (
        SELECT s.i, s.d, s.n,
               GREATEST(CAST(0 AS BIGINT), (s.n * tot.nd - tot.t) - tot.t // 20),
               GREATEST(CAST(0 AS BIGINT), (tot.t - s.n * tot.nd) - tot.t // 20)
        FROM seq s, tot WHERE s.i = 1
        UNION ALL
        SELECT s.i, s.d, s.n,
               GREATEST(CAST(0 AS BIGINT),
                        c.sp + (s.n * tot.nd - tot.t) - tot.t // 20),
               GREATEST(CAST(0 AS BIGINT),
                        c.sn + (tot.t - s.n * tot.nd) - tot.t // 20)
        FROM c JOIN seq s ON s.i = c.i + 1, tot)
    SELECT strftime(c.d, '%Y-%m-%d') AS day, c.n AS n_events,
           c.sp AS cusum_pos, c.sn AS cusum_neg,
           (c.sp > tot.t // 2 OR c.sn > tot.t // 2) AS alarm
    FROM c, tot ORDER BY day
    """,
    tags=("stats", "monitoring", "pipeline"),
)
def ev_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detector over daily event volume — the
    standard change-point monitor a pipeline runs on its own ingest rate.
    All-integer: deviations are scaled by n_days (dev_d = n_d*N - T, mean
    exactly zero), allowance k = 5% and alarm threshold h = 50% of the
    mean daily volume in the same scaled units (T DIV 20 / T DIV 2), and
    the recurrence S_d = max(0, S_{d-1} + dev_d - k) folds exact bigints.

    Scale design: CUSUM is a NONLINEAR sequential recurrence — max(0, ·)
    breaks the prefix-sum decomposition that rescued sample_systematic_pps
    and stats_mann_whitney, so it cannot be windowed or two-leveled. But
    it runs over the DATE DOMAIN: one distributed daily aggregate
    (map-side combinable) reduces 100 TB of events to |days| rows, and the
    recurrence is ONE in-row aggregate() fold over the sorted day array —
    bounded by construction, no corpus-wide window, no driver loop. The
    oracle replays the identical recurrence as a recursive CTE."""
    e = read_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return cusum_series(daily)


def cusum_series(daily: DataFrame) -> DataFrame:
    """(day, n_events, cusum_pos, cusum_neg, alarm) from a (d: DATE,
    n: BIGINT) daily-count frame — the in-row recurrence fold shared by the
    batch entry above and the streaming monitor
    (streaming/windows.py::stream_cusum_monitor), so the two paths cannot
    drift apart arithmetically."""
    one = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "n"))).alias("days"),
        F.sum("n").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    folded = one.select(
        "t",
        F.expr(
            """
            aggregate(
              days,
              named_struct(
                'sp', CAST(0 AS BIGINT), 'sn', CAST(0 AS BIGINT),
                'out', CAST(array() AS
                    ARRAY<STRUCT<day: DATE, n: BIGINT, sp: BIGINT, sn: BIGINT>>)),
              (acc, x) -> named_struct(
                'sp', GREATEST(CAST(0 AS BIGINT),
                               acc.sp + (x.n * nd - t) - t DIV 20),
                'sn', GREATEST(CAST(0 AS BIGINT),
                               acc.sn + (t - x.n * nd) - t DIV 20),
                'out', array_append(acc.out, named_struct(
                    'day', x.d, 'n', x.n,
                    'sp', GREATEST(CAST(0 AS BIGINT),
                                   acc.sp + (x.n * nd - t) - t DIV 20),
                    'sn', GREATEST(CAST(0 AS BIGINT),
                                   acc.sn + (t - x.n * nd) - t DIV 20)))),
              acc -> acc.out)
            """
        ).alias("series"),
    )
    return (
        folded.select("t", F.explode("series").alias("s"))
        .select(
            # day rendered as a STRING: Spark DATE and DuckDB date32 render
            # differently through the driver's fetch layer (the rcte decimal
            # lesson, applied to dates)
            F.date_format(F.col("s.day"), "yyyy-MM-dd").alias("day"),
            F.col("s.n").alias("n_events"),
            F.col("s.sp").alias("cusum_pos"),
            F.col("s.sn").alias("cusum_neg"),
            ((F.col("s.sp") > F.expr("t DIV 2")) | (F.col("s.sn") > F.expr("t DIV 2")))
            .alias("alarm"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test (r9 cont.): the distribution-SHAPE
# companion to stats_mann_whitney on the identical value-domain machinery —
# MW detects a location shift, KS detects ANY CDF divergence (the corpus
# drift detector a training-data pipeline runs between ingestion snapshots
# or data sources). D = max_v |F1(v) - F0(v)| is, like U, a rank statistic
# the textbook computes from a pooled SORT; here it is a MAX over the
# per-VALUE frame of an integral cross-difference, so no row-level sort and
# no corpus-wide window exist in the plan.
# --------------------------------------------------------------------------

@register(
    "stats_ks_test",
    f"""
    WITH {_ARMS_CTES},
    c AS (
        SELECT CAST(SUM(n1v) OVER (ORDER BY v) AS BIGINT) AS c1le,
               CAST(SUM(n0v) OVER (ORDER BY v) AS BIGINT) AS c0le
        FROM per),
    tot AS (
        SELECT CAST(MAX(c1le) AS BIGINT) AS n1,
               CAST(MAX(c0le) AS BIGINT) AS n0,
               CAST(MAX(ABS(n1v_cross)) AS BIGINT) AS d_num
        FROM (SELECT c1le, c0le,
                     c1le * (SELECT MAX(c0le) FROM c)
                     - c0le * (SELECT MAX(c1le) FROM c) AS n1v_cross
              FROM c))
    SELECT n1, n0, d_num,
           CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n0) AS d,
           (CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n0))
           * SQRT(CAST(n1 AS DOUBLE) * n0 / (n1 + n0)) AS kn
    FROM tot
    """,
    tags=("stats", "hypothesis", "pipeline"),
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between URGENT and LOW-priority
    order-total distributions — the same arms as stats_mann_whitney, so the
    two statistics are directly comparable on one dataset.

    Scale shape: D needs BOTH arms' inclusive CDFs at every distinct value.
    The plan groups to the value domain (exact cents), runs the two prefix
    sums through the shared two-level idiom (bucket totals -> bounded
    driver offsets -> bucket-partitioned inclusive window — zero
    unpartitioned windows), and takes ONE integral max:
    d_num = max_v |n0*C1(<=v) - n1*C0(<=v)|, so the comparison of the two
    step functions never touches a float. D = d_num/(n1*n0) and the
    scaled statistic Kn = D*sqrt(n1*n0/(n1+n0)) are emitted via identical
    fully-parenthesized IEEE expressions in both engines (the z-statistic
    precedent). Integral-overflow boundary, documented like MW's tie cube:
    |d_num| <= n1*n0 stays in int64 while the ARM PRODUCT < 2^63 — arms up
    to ~3e9 rows each; past that, lift d_num to DECIMAL(38,0) (one-line
    change, same plan)."""
    from pyspark.sql.window import Window as _W

    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    g = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("grp"),
    )
    per = g.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n1v"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n0v"),
    )
    per = per.withColumn("bucket", F.expr(f"v DIV {MWU_BUCKET_CENTS}"))
    # double execution (offset collect + window path) kept deliberately —
    # the localCheckpoint cut measured SLOWER at sf10 (3.81 -> 6.08 s);
    # see the stats_mann_whitney note.
    btot = (
        per.groupBy("bucket")
        .agg(
            F.sum("n1v").cast("bigint").alias("b1"),
            F.sum("n0v").cast("bigint").alias("b0"),
        )
        .orderBy("bucket")
        .collect()
    )  # bounded by the value domain, not the corpus
    offsets, run1, run0 = [], 0, 0
    for r in btot:
        offsets.append((r["bucket"], run1, run0))
        run1 += r["b1"]
        run0 += r["b0"]
    off = spark.createDataFrame(offsets, "bucket long, off1 long, off0 long")
    win = _W.partitionBy("bucket").orderBy("v").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    c = (
        per.join(F.broadcast(off), "bucket")
        .withColumn("c1le", (F.sum("n1v").over(win) + F.col("off1")).cast("bigint"))
        .withColumn("c0le", (F.sum("n0v").over(win) + F.col("off0")).cast("bigint"))
    )
    tot = c.agg(
        F.max("c1le").cast("bigint").alias("n1"),
        F.max("c0le").cast("bigint").alias("n0"),
        F.max(
            F.abs(
                F.col("c1le") * F.lit(run0).cast("bigint")
                - F.col("c0le") * F.lit(run1).cast("bigint")
            )
        )
        .cast("bigint")
        .alias("d_num"),
    )
    return tot.select(
        "n1",
        "n0",
        "d_num",
        F.expr("CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n0)").alias("d"),
        F.expr(
            "(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n0))"
            " * SQRT(CAST(n1 AS DOUBLE) * n0 / (n1 + n0))"
        ).alias("kn"),
    )


# --------------------------------------------------------------------------
# Deterministic Poisson bootstrap (r9 cont.): distributed uncertainty
# quantification — the missing capability class next to the hypothesis
# tests. The classic bootstrap resamples n rows WITH replacement, which is
# inherently sequential; the Poisson bootstrap (Hanley & MacGibbon 2006,
# the production form in Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google 2012) gives each row an independent
# Poisson(1) multiplicity per replicate — embarrassingly parallel, one
# pass, mergeable. Here the Poisson draw is DERANDOMIZED: one
# md5(row, b DIV 4) digest sliced into four 32-bit uniforms (b % 4 picks
# the 8-hex-char slice), each fed through the Poisson(1) inverse CDF as a
# CASE chain over exact
# double literals — identical in both engines, so even the RESAMPLING is
# oracle-replayed (the sample_stratified md5-uniform recipe applied to
# weights).
# --------------------------------------------------------------------------
BOOT_B = 64  # replicates; CI indices below assume this
#: Poisson(1) CDF thresholds P(X<=k), k=0..6 (weights cap at 7 — P > 7 is
#: ~1e-5 and the tail mass lands on w=7; both engines compare the SAME
#: double literals so the draw is exact)
_POIS_T = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119",
)


def _pois_w(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"(CASE {cases} ELSE 7 END)"


_BOOT_ORACLE = f"""
    WITH rows_g AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
               g.bg AS bg,
               md5(CAST(o_orderkey AS VARCHAR) || ':'
                   || CAST(g.bg AS VARCHAR)) AS h
        FROM orders, UNNEST(generate_series(0, {BOOT_B // 4 - 1})) AS g(bg)),
    rows_b AS (
        SELECT pri, c, bg * 4 + s.s AS b,
               CAST(('0x' || SUBSTR(h, 1 + 8 * s.s, 8))::UBIGINT AS DOUBLE)
                   / 4294967296.0 AS u
        FROM rows_g, UNNEST(generate_series(0, 3)) AS s(s)),
    rep AS (
        SELECT pri, b,
               CAST(SUM({_pois_w('u')} * c) AS BIGINT) AS swc,
               CAST(SUM({_pois_w('u')}) AS BIGINT) AS sw
        FROM rows_b GROUP BY pri, b),
    means AS (
        SELECT pri, b, CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) AS m,
               ROW_NUMBER() OVER (PARTITION BY pri ORDER BY
                   CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE), b) AS rn
        FROM rep),
    full_mean AS (
        SELECT o_orderpriority AS pri,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                    AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) AS mean_cents
        FROM orders GROUP BY pri)
    SELECT f.pri AS o_orderpriority, f.mean_cents,
           lo.m AS ci_lo_cents, hi.m AS ci_hi_cents,
           CAST({BOOT_B} AS BIGINT) AS n_replicates
    FROM full_mean f
    JOIN means lo ON lo.pri = f.pri AND lo.rn = 2
    JOIN means hi ON hi.pri = f.pri AND hi.rn = {BOOT_B - 1}
    ORDER BY f.pri
"""


@register(
    "stats_bootstrap_ci",
    _BOOT_ORACLE,
    tags=("stats", "hypothesis", "pipeline"),
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for the mean order total per priority —
    {BOOT_B} derandomized replicates in ONE corpus pass.

    Scale shape: the corpus explodes by B map-side (no shuffle grows with
    B beyond the (pri, b) aggregate's 5x{BOOT_B} cells). The md5 draw is
    SLICED: one digest per (row, replicate-group-of-4) yields 128 bits =
    four independent 32-bit uniforms (digest calls cut 4x vs one md5 per
    replicate — the r9 judge's fix; the slice positions 1/9/17/25 are the
    same SUBSTR algebra in both engines). Per-replicate weighted sums
    accumulate in BIGINT — exact while a replicate arm's weighted cents
    stay under 2^63, i.e. ~3e13 orders per priority (a ~1e12-row 100 TB
    table has 30x headroom; past that, re-widen to DECIMAL(38,0) — values
    are identical, this is purely the cheaper carrier). The bound is
    ENFORCED at execution time (ADVICE r10): a raise_error guard on the
    full-mean aggregate fails loudly if n * 7 * max_cents approaches 2^63,
    because Spark SUM(bigint) wraps silently where DuckDB widens — an
    overflow would otherwise be wrong-but-green. The CI is exact
    SELECTION (rank 2 / rank {BOOT_B - 1} of {BOOT_B} replicate means per
    group — a {BOOT_B}-row window per group, bounded by construction).
    Every arithmetic step — the md5 uniform, the inverse-CDF weight, the
    integer sums, the two final IEEE divisions — is expression-identical
    in DuckDB, so the CI bounds themselves hash-match."""
    from pyspark.sql.window import Window

    from .textprims import fan_out

    o = read_table(spark, sf_dir, "orders")
    rows_g = fan_out(o.select(
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("c"),
        F.col("o_orderkey"),
    )).select(
        "pri", "c", "o_orderkey",
        F.explode(F.expr(f"sequence(0, {BOOT_B // 4 - 1})")).alias("bg"),
    ).select(
        "pri", "c", "bg",
        F.expr(
            "md5(CAST(concat(CAST(o_orderkey AS STRING),"
            " ':', CAST(bg AS STRING)) AS BINARY))"
        ).alias("h"),
    )
    # r11 session 6: the four 32-bit slices of each digest are aggregated
    # as FOUR top-level (swc, sw) expression pairs over the (row, group)
    # frame instead of exploding x4 first — at sf10 the old shape pushed
    # 960M generated rows through the hash aggregate; this one feeds it
    # 240M rows with 4x the per-row work and unpivots the 80-cell result.
    # The summed integer terms per (pri, b) cell are IDENTICAL (b = bg*4+s
    # is fixed within a (bg, s) slice; integer addition is associative),
    # so swc/sw — and the CI — are bit-equal to the exploded shape's.
    # u and w are projected ONCE per slice — referencing the conv() inside
    # the CASE chain, or the CASE chain inside both SUMs, would re-evaluate
    # them per branch (the rule the old in-line comment pinned).
    us = rows_g.select(
        "pri", "c", "bg",
        *[
            F.expr(
                f"CAST(conv(substring(h, {1 + 8 * s}, 8), 16, 10) AS DOUBLE)"
                " / 4294967296.0"
            ).alias(f"u{s}")
            for s in range(4)
        ],
    )
    ws = us.select(
        "pri", "c", "bg",
        *[F.expr(_pois_w(f"u{s}")).alias(f"w{s}") for s in range(4)],
    )
    gp = ws.groupBy("pri", "bg").agg(
        *[F.expr(f"CAST(SUM(w{s} * c) AS BIGINT)").alias(f"swc{s}") for s in range(4)],
        *[F.expr(f"CAST(SUM(w{s}) AS BIGINT)").alias(f"sw{s}") for s in range(4)],
    )
    rep = gp.select(
        "pri",
        F.expr(
            "stack(4, "
            + ", ".join(f"bg * 4 + {s}, swc{s}, sw{s}" for s in range(4))
            + ") AS (b, swc, sw)"
        ),
    ).select("pri", "b", "swc", "sw")
    means = rep.select(
        "pri", "b",
        F.expr("CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE)").alias("m"),
    )
    rw = Window.partitionBy("pri").orderBy("m", "b")
    ranked = means.withColumn("rn", F.row_number().over(rw))
    # both CI bounds fold out of ONE pass over the ranked replicate means —
    # separate rn=2 / rn=B-1 filter branches would each re-execute the
    # whole replicate chain (measured 14.6 s -> 1.8 s at sf0.1)
    ci = ranked.groupBy("pri").agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("rn") == BOOT_B - 1, F.col("m"))).alias(
            "ci_hi_cents"
        ),
    )
    full = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.expr(
            "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100"
            " AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)"
        ).alias("mean_cents"),
        F.count(F.lit(1)).alias("__n_rows"),
        F.max("o_totalprice").alias("__max_price"),
    )
    # overflow guard (ADVICE r10): Spark SUM(bigint) WRAPS silently
    # (non-ANSI) while DuckDB widens to HUGEINT, so past the documented
    # ~3e13-orders-per-priority bound the Spark replicate sums would be
    # wrong-but-green. The bound check rides the existing full-mean
    # aggregate (n and max price are free partials) and raise_error()s at
    # execution time: worst replicate sum <= n * w_max(7) * max_cents,
    # compared in DOUBLE (the product itself could overflow BIGINT) with
    # margin against 2^63 ~ 9.22e18.
    full = full.select(
        "pri",
        F.expr(
            "CASE WHEN CAST(__n_rows AS DOUBLE) * 7.0"
            " * (CAST(__max_price AS DOUBLE) * 100.0) >= 9.0e18"
            " THEN CAST(raise_error(concat('stats_bootstrap_ci: replicate"
            " BIGINT accumulator would overflow for priority ', pri,"
            " ' — re-widen swc/sw to DECIMAL(38,0)')) AS DOUBLE)"
            " ELSE mean_cents END"
        ).alias("mean_cents"),
    )
    return (
        full.join(F.broadcast(ci), "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "mean_cents",
            "ci_lo_cents",
            "ci_hi_cents",
            F.lit(BOOT_B).cast("bigint").alias("n_replicates"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Theil-Sen robust slope (r9 cont.): the robust counterpart of
# stats_linear_fit's OLS — the median of all pairwise slopes, with a ~29%
# breakdown point where OLS breaks on one outlier. The estimator's
# textbook obstacle at scale is its O(n^2) pair set; here the x-domain is
# the CALENDAR (daily aggregates), so pairs are bounded by days^2 per
# group regardless of row count — the aggregate-first-then-pair shape a
# 100 TB trend monitor actually runs. Slopes are single IEEE divisions of
# exact integers; the median is a rank selection, not an average, so no
# float accumulation exists anywhere.
# --------------------------------------------------------------------------
@register(
    "stats_theil_sen",
    """
    WITH daily AS (
        SELECT o_orderpriority AS pri,
               CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS INT) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
        GROUP BY 1, 2),
    slopes AS (
        SELECT a.pri, CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS m
        FROM daily a JOIN daily b ON a.pri = b.pri AND b.x > a.x),
    ranked AS (
        SELECT pri, m,
               ROW_NUMBER() OVER (PARTITION BY pri ORDER BY m) AS rn,
               COUNT(*) OVER (PARTITION BY pri) AS n_pairs
        FROM slopes),
    ts AS (
        SELECT pri, m AS ts_slope, n_pairs
        FROM ranked WHERE rn = (n_pairs + 1) // 2),
    moments AS (
        SELECT pri,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY pri)
    SELECT m.pri AS o_orderpriority, m.n_points,
           CAST(t.n_pairs AS BIGINT) AS n_pairs, t.ts_slope,
           CAST(m.n_points * m.sxy - m.sx * m.sy AS DOUBLE)
               / (m.n_points * m.sxx - m.sx * m.sx) AS ols_slope
    FROM moments m JOIN ts t ON t.pri = m.pri
    ORDER BY o_orderpriority
    """,
    tags=("stats", "surplus", "pipeline"),
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Theil-Sen trend of 1995 daily order volume — the median
    of all pairwise slopes over (day, count) points — reported beside the
    OLS slope on the same points (robust-vs-LS divergence is the outlier
    diagnostic). Median = lower rank selection at (n+1)/2, deterministic
    under slope ties because selection is by VALUE.

    Scale shape: the corpus collapses to per-(priority, day) counts FIRST
    (map-side combinable; <= 365 points per group at any SF), so the
    pairwise self-join is calendar-bounded — <= 365^2/2 slope rows per
    group FOREVER, while the raw table grows without bound. The rank
    windows partition per priority over those bounded slope sets. OLS
    moments are exact BIGINT sums (x <= 364, products can't overflow);
    each slope and both estimators are one fixed-shape IEEE division of
    exact integers — bit-identical across engines at any parallelism.

    Reference analogue: none (stats tier beside stats_linear_fit /
    stats_bootstrap_ci)."""
    o = read_table(spark, sf_dir, "orders")
    daily = (
        o.filter(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01"))
            .cast("int")
            .alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    # daily is calendar-bounded (<= 365 x |priority| rows forever) but
    # feeds THREE consumers (both pair-join sides + the OLS moments), and
    # lazy evaluation re-ran the orders scan + aggregate per consumer —
    # 6 parquet scans in the before-plan (plans/r11/). One eager
    # localCheckpoint makes every consumer read the materialized frame.
    daily = daily.localCheckpoint(eager=True)
    a = daily.select("pri", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select("pri", F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.join(b, "pri")
        .filter(F.col("xb") > F.col("xa"))
        .select(
            "pri",
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa"))
            ).alias("m"),
        )
    )
    wr = Window.partitionBy("pri").orderBy("m")
    wc = Window.partitionBy("pri")
    ranked = slopes.select(
        "pri",
        "m",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(
            wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n_pairs"),
    )
    ts = ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) DIV 2")
    ).select("pri", F.col("m").alias("ts_slope"), "n_pairs")
    moments = daily.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return (
        moments.join(ts, "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_points",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            "ts_slope",
            F.expr(
                "CAST(n_points * sxy - sx * sy AS DOUBLE)"
                " / (n_points * sxx - sx * sx)"
            ).alias("ols_slope"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Benford first-digit check (r9 cont.): the classic anomaly screen a data
# platform runs over money/measure columns (fabricated or unit-mangled
# values break the log-uniform leading-digit law long before any
# distribution test sees it). The Benford expectations are FIXED DECIMAL
# LITERALS (log10(1+1/d) precomputed — never a runtime libm call, which
# is not cross-engine reproducible); the first digit is string algebra;
# the chi-square contributions quantize to nano-units before summing
# (the stats_chi2_independence recipe), so the whole test is exact
# integers + fixed-shape IEEE ops.
# --------------------------------------------------------------------------
_BENFORD_P = {
    1: "0.3010299956639812", 2: "0.17609125905568124",
    3: "0.12493873660829992", 4: "0.09691001300805642",
    5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129",
    9: "0.04575749056067514",
}
#: chi-square(8 df) upper 5% critical value, shared literal text
_BENFORD_CRIT = "15.507"


def _benford_p_sql(col: str = "digit") -> str:
    # The CAST AS DOUBLE is load-bearing: without it the CASE over
    # mixed-scale decimal literals types as DECIMAL(17,17) in Spark but
    # DOUBLE in DuckDB, so the canonical text of benford_p diverges
    # ("0.30102999566398120" vs "0.3010299956639812") and the driver
    # value-hash stays red while rows/schema pass (r10 verdict item 1).
    cases = " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items()
    )
    return f"CAST(CASE {col} {cases} END AS DOUBLE)"


@register(
    "stats_benford_check",
    f"""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1)
                    AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1.0),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed
            FROM digits GROUP BY digit),
    tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs),
    cell AS (
        SELECT digit, observed, n,
               CAST(n AS DOUBLE) * ({_benford_p_sql()}) AS expected
        FROM obs CROSS JOIN tot),
    contrib AS (
        SELECT digit, observed, n, expected,
               CAST(ROUND(((CAST(observed AS DOUBLE) - expected)
                           * (CAST(observed AS DOUBLE) - expected)
                           / expected) * 1000000000) AS BIGINT) AS q
        FROM cell),
    chi AS (SELECT CAST(SUM(q) AS BIGINT) AS chi_nano FROM contrib)
    SELECT c.digit, c.observed,
           CAST(c.observed AS DOUBLE) / c.n AS obs_share,
           {_benford_p_sql("c.digit")} AS benford_p,
           c.expected,
           CAST(chi.chi_nano AS DOUBLE) / 1000000000 AS chi2,
           (CAST(chi.chi_nano AS DOUBLE) / 1000000000) > {_BENFORD_CRIT}
               AS rejected
    FROM contrib c CROSS JOIN chi
    ORDER BY c.digit
    """,
    tags=("stats", "quality", "surplus", "pipeline"),
)
def stats_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals: leading-digit frequencies vs
    the log-uniform expectation, with the chi-square statistic (8 df, 5%
    critical value {_BENFORD_CRIT}) and the reject verdict repeated on each
    of the nine digit rows. Leading digit = first character of the integer
    part (values >= 1 only, so the digit is never '0'). The integer part
    goes through FLOOR before the BIGINT cast on BOTH engines: a bare
    CAST(double AS BIGINT) truncates in Spark but rounds in DuckDB
    (queries/scalar.py trap #3), and one sf0.01 order (~89999.5+) crosses
    a first-digit boundary under rounding.

    Scale shape: one scan -> 9-row digit histogram (map-side combinable);
    everything downstream is constant-size. Expectations are fixed decimal
    literals (log10 precomputed — a runtime log10() call would not be
    bit-reproducible across engines); contributions quantize to nano-units
    BEFORE the 9-term sum (associative integer addition, the chi2
    precedent); shares and the statistic are fixed-shape IEEE divisions.

    Reference analogue: none (data-quality tier beside
    stats_chi2_independence / profile_table)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("observed")
    )
    tot = obs.agg(F.sum("observed").cast("bigint").alias("n"))
    cell = obs.crossJoin(F.broadcast(tot)).withColumn(
        "expected", F.expr(f"CAST(n AS DOUBLE) * ({_benford_p_sql()})")
    )
    contrib = cell.withColumn(
        "q",
        F.expr(
            "CAST(ROUND(((CAST(observed AS DOUBLE) - expected)"
            " * (CAST(observed AS DOUBLE) - expected)"
            " / expected) * 1000000000) AS BIGINT)"
        ),
    )
    chi = contrib.agg(F.sum("q").cast("bigint").alias("chi_nano"))
    return (
        contrib.crossJoin(F.broadcast(chi))
        .select(
            "digit",
            "observed",
            F.expr("CAST(observed AS DOUBLE) / n").alias("obs_share"),
            F.expr(_benford_p_sql("digit")).alias("benford_p"),
            "expected",
            F.expr("CAST(chi_nano AS DOUBLE) / 1000000000").alias("chi2"),
            F.expr(
                f"(CAST(chi_nano AS DOUBLE) / 1000000000) > {_BENFORD_CRIT}"
            ).alias("rejected"),
        )
        .orderBy("digit")
    )
