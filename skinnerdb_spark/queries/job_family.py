"""Generated JOB-style query family.

The reference's primary benchmark is 113 instantiations of a handful of
star-join templates over IMDB (imdb/queries/*.sql: same join graph, varying
unary predicates per dimension). This module mirrors that structure: one
template — lineitem fact joined to part/supplier/nation/region + orders —
instantiated over a parameter grid (brand x region x quantity band x type),
each instance registered with its own generated oracle.

This is what makes the bench suite resemble the reference's workload shape:
many queries, same plan family, different selectivities — exactly where
adaptive join ordering (plans/joinorder.py) and AQE earn their keep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skinnerdb_spark.functions.exact import DS, dsum
from skinnerdb_spark.queries.util import adaptive, read_table
from skinnerdb_spark.registry import register

B = F.broadcast

#: (suffix, brand, region, qty_lo, qty_hi, p_type)
_VARIANTS = [
    ("01", "Brand#2", "ASIA", 1, 20, None),
    ("02", "Brand#4", "EUROPE", 10, 35, None),
    ("03", "Brand#19", "AMERICA", 25, 50, None),
    ("04", None, "AFRICA", 5, 45, "PROMO"),
    ("05", None, "MIDDLE EAST", 1, 30, "ECONOMY"),
    ("06", "Brand#17", None, 15, 40, "STANDARD"),
    ("07", "Brand#8", None, 1, 15, None),
    ("08", None, "ASIA", 30, 50, "SMALL"),
    ("09", "Brand#23", "EUROPE", 5, 25, "LARGE"),
]


def _make(suffix: str, brand: str | None, region: str | None, qlo: int, qhi: int, ptype: str | None):
    conds_sql = [f"l_quantity BETWEEN {qlo} AND {qhi}"]
    if brand:
        conds_sql.append(f"p_brand = '{brand}'")
    if region:
        conds_sql.append(f"r_name = '{region}'")
    if ptype:
        conds_sql.append(f"p_type = '{ptype}'")
    oracle = f"""
    SELECT MIN(p_name) AS min_pname, MIN(s_name) AS min_sname,
           COUNT(*) AS n_rows, {DS('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem, part, supplier, nation, region, orders
    WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND l_orderkey = o_orderkey
      AND {' AND '.join(conds_sql)}
    """

    def impl(spark: SparkSession, sf_dir: str) -> DataFrame:
        l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(qlo, qhi))
        p = read_table(spark, sf_dir, "part")
        if brand:
            p = p.filter(F.col("p_brand") == brand)
        if ptype:
            p = p.filter(F.col("p_type") == ptype)
        s = read_table(spark, sf_dir, "supplier")
        n = read_table(spark, sf_dir, "nation")
        r = read_table(spark, sf_dir, "region")
        if region:
            r = r.filter(F.col("r_name") == region)
        o = read_table(spark, sf_dir, "orders")
        return adaptive(
            l.join(B(p), l.l_partkey == p.p_partkey)
            .join(B(s), l.l_suppkey == s.s_suppkey)
            .join(B(n), s.s_nationkey == n.n_nationkey)
            .join(B(r), n.n_regionkey == r.r_regionkey)
            .join(o, l.l_orderkey == o.o_orderkey)
            .agg(
                F.min("p_name").alias("min_pname"),
                F.min("s_name").alias("min_sname"),
                F.count(F.lit(1)).alias("n_rows"),
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            )
        )

    impl.__name__ = f"job_v{suffix}"
    impl.__doc__ = (
        f"JOB-family instance {suffix}: brand={brand} region={region} "
        f"qty=[{qlo},{qhi}] type={ptype}"
    )
    register(f"job_v{suffix}", oracle, tags=("job", "family", "join"))(impl)


for _v in _VARIANTS:
    _make(*_v)


# ---------------------------------------------------------------------------
# job_deep15 — the reference's DEEPEST query shape as a registry entry:
# 15 relations with alias reuse (lineitem x2, orders x2, nation x3, region x3),
# stacked LIKE / NOT LIKE, a date band, and two cross-alias theta predicates —
# the imdb/queries/29a.sql class (17 relations; the t12_deep17_* corpus files
# cover 17). Kept in byte-sync with queries_sql/t11_deep15_01.sql, which the
# bench drives through Engine.adaptive_sql.
# ---------------------------------------------------------------------------
import os as _os

_T11_FILE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "queries_sql",
    "t11_deep15_01.sql",
)
with open(_T11_FILE) as _f:
    _DEEP15_ORACLE = _f.read()


@register("job_deep15", _DEEP15_ORACLE, tags=("job", "family", "deep", "adaptive"))
def job_deep15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-way snowflake with self-joins: two items of one order, each with a
    full part -> supplier -> nation -> region chain, the customer's
    nation -> region chain, and a repeat-purchase orders alias bound by a
    date theta. Routed through adaptive join ordering — the widest
    graph it learns (15 leaves; extraction handles the dup-alias naming and
    places both theta conjuncts at their earliest bound position)."""
    rt = read_table
    l1 = rt(spark, sf_dir, "lineitem")
    l2 = rt(spark, sf_dir, "lineitem")
    o = rt(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1995-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
    )
    o2 = rt(spark, sf_dir, "orders")
    c = rt(spark, sf_dir, "customer").filter(F.col("c_name").like("Customer#%"))
    n1, n2, n3 = (rt(spark, sf_dir, "nation") for _ in range(3))
    r1 = rt(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    r2, r3 = (rt(spark, sf_dir, "region") for _ in range(2))
    p1 = rt(spark, sf_dir, "part").filter(F.col("p_name").like("%re%"))
    p2 = rt(spark, sf_dir, "part").filter(~F.col("p_name").like("%blue%"))
    s1, s2 = (rt(spark, sf_dir, "supplier") for _ in range(2))
    return adaptive(
        l1.join(o, l1["l_orderkey"] == o["o_orderkey"])
        .join(l2, l2["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(o2, o2["o_custkey"] == c["c_custkey"])
        .join(B(n1), c["c_nationkey"] == n1["n_nationkey"])
        .join(B(r1), n1["n_regionkey"] == r1["r_regionkey"])
        .join(p1, l1["l_partkey"] == p1["p_partkey"])
        .join(B(s1), l1["l_suppkey"] == s1["s_suppkey"])
        .join(B(n2), s1["s_nationkey"] == n2["n_nationkey"])
        .join(B(r2), n2["n_regionkey"] == r2["r_regionkey"])
        .join(p2, l2["l_partkey"] == p2["p_partkey"])
        .join(B(s2), l2["l_suppkey"] == s2["s_suppkey"])
        .join(B(n3), s2["s_nationkey"] == n3["n_nationkey"])
        .join(B(r3), n3["n_regionkey"] == r3["r_regionkey"])
        .filter(l1["l_linenumber"] < l2["l_linenumber"])
        .filter(o2["o_orderdate"] > o["o_orderdate"])
        .agg(
            F.min(p1["p_name"]).alias("min_p1"),
            F.min(p2["p_name"]).alias("min_p2"),
            F.min(n2["n_name"]).alias("min_suppnation1"),
            F.min(r3["r_name"]).alias("min_suppregion2"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# job_deep17 — the full 29a.sql-class width (17 relations) as an
# oracle-verified registry entry: three items of one order, each with its
# part -> supplier -> nation chain, customer nation -> region, a
# repeat-purchase orders alias, stacked LIKE/NOT LIKE and ordering thetas.
# Byte-synced with queries_sql/t12_deep17_01.sql (which the bench drives
# through Engine.adaptive_sql); this entry routes the same graph through the
# adaptive path at the widest width the extractor handles (17 leaves).
# ---------------------------------------------------------------------------
_T12_FILE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "queries_sql",
    "t12_deep17_01.sql",
)
with open(_T12_FILE) as _f:
    _DEEP17_ORACLE = _f.read()


@register("job_deep17", _DEEP17_ORACLE, tags=("job", "family", "deep", "adaptive"))
def job_deep17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """17-way snowflake with triple self-join on lineitem — the widest shape
    in the reference's corpus class (imdb/queries/29a.sql joins 17
    relations). See PERFORMANCE.md 'Deep-join family': at this width the
    learned order beats Catalyst's static choice ~2.2x."""
    rt = read_table
    l1, l2, l3 = (rt(spark, sf_dir, "lineitem") for _ in range(3))
    o = rt(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1995-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    )
    o2 = rt(spark, sf_dir, "orders")
    c = rt(spark, sf_dir, "customer")
    n1, n2, n3, n4 = (rt(spark, sf_dir, "nation") for _ in range(4))
    r1 = rt(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p1 = rt(spark, sf_dir, "part").filter(F.col("p_name").like("%re%"))
    p2 = rt(spark, sf_dir, "part").filter(~F.col("p_name").like("%blue%"))
    p3 = rt(spark, sf_dir, "part").filter(F.col("p_type").like("PROMO%"))
    s1, s2, s3 = (rt(spark, sf_dir, "supplier") for _ in range(3))
    return adaptive(
        l1.join(o, l1["l_orderkey"] == o["o_orderkey"])
        .join(l2, l2["l_orderkey"] == o["o_orderkey"])
        .join(l3, l3["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(o2, o2["o_custkey"] == c["c_custkey"])
        .join(B(n1), c["c_nationkey"] == n1["n_nationkey"])
        .join(B(r1), n1["n_regionkey"] == r1["r_regionkey"])
        .join(p1, l1["l_partkey"] == p1["p_partkey"])
        .join(B(s1), l1["l_suppkey"] == s1["s_suppkey"])
        .join(B(n2), s1["s_nationkey"] == n2["n_nationkey"])
        .join(p2, l2["l_partkey"] == p2["p_partkey"])
        .join(B(s2), l2["l_suppkey"] == s2["s_suppkey"])
        .join(B(n3), s2["s_nationkey"] == n3["n_nationkey"])
        .join(p3, l3["l_partkey"] == p3["p_partkey"])
        .join(B(s3), l3["l_suppkey"] == s3["s_suppkey"])
        .join(B(n4), s3["s_nationkey"] == n4["n_nationkey"])
        .filter(l1["l_linenumber"] < l2["l_linenumber"])
        .filter(l2["l_linenumber"] < l3["l_linenumber"])
        .filter(o2["o_orderdate"] > o["o_orderdate"])
        .agg(
            F.min(p1["p_name"]).alias("min_p1"),
            F.min(p2["p_name"]).alias("min_p2"),
            F.min(p3["p_name"]).alias("min_p3"),
            F.min(n2["n_name"]).alias("min_suppnation1"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
