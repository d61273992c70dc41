"""Per-phase cardinality checks vs DuckDB — the reference's BenchAndVerify
methodology (src/benchmark/BenchAndVerify.java:110-174 checks the cardinality
of every unary-predicate filter and every join step against the oracle, not
just final results).

Final-result hashes can mask a silently-wrong filter whose error washes out
in aggregation; these tests pin the INTERMEDIATE cardinalities — each
filtered scan and each prefix of the join chain — for representative queries
of the suite's main shapes (selective-filter join q03, star join q05,
returned-items join q10, theta join, LSH candidate generation).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skinnerdb_spark.queries.util import read_table, ts

B = F.broadcast


def _phases_tpch_q03(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < ts("1997-01-01"))
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > ts("1997-01-01"))
    lo = l.join(o, l.l_orderkey == o.o_orderkey)
    loc = lo.join(c, o.o_custkey == c.c_custkey)
    return [
        ("filter_customer", c,
         "SELECT COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING'"),
        ("filter_orders", o,
         "SELECT COUNT(*) FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'"),
        ("filter_lineitem", l,
         "SELECT COUNT(*) FROM lineitem WHERE l_shipdate > TIMESTAMP '1997-01-01'"),
        ("join_l_o", lo,
         """SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate > TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'"""),
        ("join_l_o_c", loc,
         """SELECT COUNT(*) FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE l.l_shipdate > TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
              AND c.c_mktsegment = 'BUILDING'"""),
    ]


def _phases_tpch_q05(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts("1995-01-01")) & (F.col("o_orderdate") < ts("1997-01-01"))
    )
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    date_pred = """o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01'"""
    lo = l.join(o, l.l_orderkey == o.o_orderkey)
    los = lo.join(B(s), l.l_suppkey == s.s_suppkey)
    losn = los.join(B(n), s.s_nationkey == n.n_nationkey)
    losnr = losn.join(B(r), n.n_regionkey == r.r_regionkey)
    return [
        ("filter_orders", o, f"SELECT COUNT(*) FROM orders WHERE {date_pred}"),
        ("filter_region", r, "SELECT COUNT(*) FROM region WHERE r_name = 'ASIA'"),
        ("join_l_o", lo,
         f"""SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             WHERE {date_pred}"""),
        ("join_l_o_s", los,
         f"""SELECT COUNT(*) FROM lineitem l
             JOIN orders o ON l.l_orderkey = o.o_orderkey
             JOIN supplier s ON l.l_suppkey = s.s_suppkey
             WHERE {date_pred}"""),
        ("join_l_o_s_n", losn,
         f"""SELECT COUNT(*) FROM lineitem l
             JOIN orders o ON l.l_orderkey = o.o_orderkey
             JOIN supplier s ON l.l_suppkey = s.s_suppkey
             JOIN nation n ON s.s_nationkey = n.n_nationkey
             WHERE {date_pred}"""),
        ("join_l_o_s_n_r", losnr,
         f"""SELECT COUNT(*) FROM lineitem l
             JOIN orders o ON l.l_orderkey = o.o_orderkey
             JOIN supplier s ON l.l_suppkey = s.s_suppkey
             JOIN nation n ON s.s_nationkey = n.n_nationkey
             JOIN region r ON n.n_regionkey = r.r_regionkey
             WHERE {date_pred} AND r.r_name = 'ASIA'"""),
    ]


def _phases_tpch_q10(spark, sf_dir):
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= ts("1996-07-01")) & (F.col("o_orderdate") < ts("1996-10-01"))
    )
    c = read_table(spark, sf_dir, "customer")
    date_pred = """o_orderdate >= TIMESTAMP '1996-07-01'
                   AND o_orderdate < TIMESTAMP '1996-10-01'"""
    lo = l.join(o, l.l_orderkey == o.o_orderkey)
    loc = lo.join(c, o.o_custkey == c.c_custkey)
    return [
        ("filter_lineitem_returned", l,
         "SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R'"),
        ("filter_orders_quarter", o, f"SELECT COUNT(*) FROM orders WHERE {date_pred}"),
        ("join_l_o", lo,
         f"""SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             WHERE l.l_returnflag = 'R' AND {date_pred}"""),
        ("join_l_o_c", loc,
         f"""SELECT COUNT(*) FROM lineitem l
             JOIN orders o ON l.l_orderkey = o.o_orderkey
             JOIN customer c ON o.o_custkey = c.c_custkey
             WHERE l.l_returnflag = 'R' AND {date_pred}"""),
    ]


def _phases_theta_join(spark, sf_dir):
    """Equi-join + theta residual: the post-bind predicate placement the
    reference checks join-by-join (LeftDeepPlan.java:111-122)."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    equi = l.join(o, l.l_orderkey == o.o_orderkey)
    theta = equi.filter(F.col("l_extendedprice") > F.col("o_totalprice") * 0.5)
    return [
        ("join_equi", equi,
         "SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"),
        ("join_theta_residual", theta,
         """SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_extendedprice > o.o_totalprice * 0.5"""),
    ]


def _phases_lsh_candidates(spark, sf_dir):
    """The dedup family's one pair-generating phase: (band, key) bucket
    self-join candidate pairs, before any verify/filter stage. The oracle is
    the dedup oracles' own LSH chain (dedup._LSH_CTES), counted at its
    candidate stage."""
    from skinnerdb_spark.operators.dedup import _LSH_CTES, lsh_candidates

    cand = lsh_candidates(spark, sf_dir)
    sig = f"""
    WITH {_LSH_CTES}
    SELECT COUNT(*) FROM cand
    """
    return [("lsh_candidate_pairs", cand, sig)]


def _phases_dedup_segments(spark, sf_dir):
    """Segment-dedup intermediate phases: the map-side segment explode and
    the shared-segment aggregation, before the per-doc rollup. The oracle is
    dedup_segments' own segment CTEs (segments.SEGMENT_CTES)."""
    from skinnerdb_spark.operators.segments import SEG_TOKENS, SEGMENT_CTES

    d = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(toks) / F.lit(float(SEG_TOKENS))).cast("int")
    seg_array = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(toks, i * SEG_TOKENS + 1, SEG_TOKENS), " "),
    )
    segs = d.select("doc_id", F.posexplode(seg_array).alias("seg_no", "seg_text"))
    shared = segs.groupBy("seg_text").agg(
        F.countDistinct("doc_id").alias("n_docs")
    ).filter(F.col("n_docs") > 1)
    segs_cte = f"""
    WITH {SEGMENT_CTES}
    """
    return [
        ("segment_explode", segs, segs_cte + "SELECT COUNT(*) FROM segs"),
        ("shared_segments", shared, segs_cte + "SELECT COUNT(*) FROM shared WHERE n_docs > 1"),
    ]


def _phases_attribution_join(spark, sf_dir):
    """Interval-join phases: filtered sides, then candidate pairs BEFORE the
    per-purchase top-1 (the fan-out the 30-minute bound is meant to cap)."""
    e = read_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purch = e.filter(F.col("event_type") == "purchase")
    pairs = purch.select("user_id", F.col("ts").alias("p_ts")).join(
        clicks.select(F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")),
        (F.col("user_id") == F.col("c_uid"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    return [
        ("filter_clicks", clicks,
         "SELECT COUNT(*) FROM events WHERE event_type = 'click'"),
        ("filter_purchases", purch,
         "SELECT COUNT(*) FROM events WHERE event_type = 'purchase'"),
        ("interval_pairs", pairs,
         """SELECT COUNT(*) FROM events p JOIN events c
              ON c.user_id = p.user_id
             AND p.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE"""),
    ]


PHASE_BUILDERS = {
    "dedup_segments": _phases_dedup_segments,
    "ev_attribution_join": _phases_attribution_join,
    "tpch_q03": _phases_tpch_q03,
    "tpch_q05": _phases_tpch_q05,
    "tpch_q10": _phases_tpch_q10,
    "theta_join": _phases_theta_join,
    "lsh_candidates": _phases_lsh_candidates,
}


@pytest.mark.parametrize("query", sorted(PHASE_BUILDERS))
def test_phase_cardinalities_match_oracle(spark, oracle_con, sf_dir, query):
    for phase, df, sql in PHASE_BUILDERS[query](spark, sf_dir):
        expected = oracle_con.execute(sql).fetchone()[0]
        got = df.count()
        assert got == expected, (
            f"{query}/{phase}: spark cardinality {got} != oracle {expected}"
        )
