"""JOB-shaped queries — the reference's primary benchmark (113 IMDB queries).

The Join Order Benchmark pattern (imdb/queries/01a.sql, 06a.sql, ...) is:
star/snowflake inner joins over one fact + several dimensions, unary predicates
mixing equality, LIKE and OR-disjunctions, and MIN(...) aggregates over string
columns. Mapped onto the driver warehouse: lineitem (fact) x part/supplier/
nation/region/orders (dims).

These exercise exactly the plan space the reference's UCT join-ordering
explores (SURVEY §2.3); in Spark the dimensions broadcast and AQE/CBO pick the
probe order (plans/joinorder.py offers the sampled-C_out alternative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skinnerdb_spark.functions.exact import DS, dsum
from skinnerdb_spark.queries.util import adaptive, read_table, ts
from skinnerdb_spark.registry import register

B = F.broadcast


@register(
    "job_star_min",
    """
    SELECT MIN(p_name) AS min_pname, MIN(s_name) AS min_sname,
           MIN(l_extendedprice) AS min_price
    FROM lineitem, part, supplier
    WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      AND p_type = 'PROMO' AND p_name LIKE '%o%' AND s_acctbal > 0
    """,
    tags=("job", "join", "like"),
)
def job_star_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOB 01a shape: MIN aggregates over a filtered star (reference:
    imdb/queries/01a.sql — MIN over joined dimension strings)."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "PROMO") & F.col("p_name").like("%o%")
    )
    s = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    return adaptive(
        l.join(B(p), l.l_partkey == p.p_partkey)
        .join(B(s), l.l_suppkey == s.s_suppkey)
        .agg(
            F.min("p_name").alias("min_pname"),
            F.min("s_name").alias("min_sname"),
            F.min("l_extendedprice").alias("min_price"),
        )
    )


@register(
    "job_snowflake_or",
    """
    SELECT MIN(n_name) AS min_nation, MIN(p_name) AS min_pname,
           COUNT(*) AS n_rows
    FROM lineitem, part, supplier, nation, region
    WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND (r_name = 'EUROPE' OR r_name = 'ASIA')
      AND (p_brand = 'Brand#2' OR p_name LIKE '%blue%')
      AND l_quantity BETWEEN 5 AND 45
    """,
    tags=("job", "join", "like"),
)
def job_snowflake_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOB 06a shape: snowflake join with OR-disjunctions and LIKE."""
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(5, 45))
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#2") | F.col("p_name").like("%blue%")
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(
        (F.col("r_name") == "EUROPE") | (F.col("r_name") == "ASIA")
    )
    return adaptive(
        l.join(B(p), l.l_partkey == p.p_partkey)
        .join(B(s), l.l_suppkey == s.s_suppkey)
        .join(B(n), s.s_nationkey == n.n_nationkey)
        .join(B(r), n.n_regionkey == r.r_regionkey)
        .agg(
            F.min("n_name").alias("min_nation"),
            F.min("p_name").alias("min_pname"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "job_double_like",
    """
    SELECT MIN(p_name) AS min_pname, MIN(p_type) AS min_ptype,
           MIN(o_orderpriority) AS min_prio, COUNT(*) AS n_rows
    FROM lineitem, part, orders
    WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
      AND p_name LIKE '%re%' AND p_name NOT LIKE '%blue%'
      AND o_orderpriority LIKE '_-%'
      AND p_retailprice BETWEEN 100 AND 1800
    """,
    tags=("job", "join", "like"),
)
def job_double_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOB shape: stacked LIKE / NOT LIKE / wildcard-underscore predicates
    across two dimensions (the reference compiles LIKE to a DFA —
    ExpressionCompiler.java:420-422; Spark compiles to regex)."""
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%re%")
        & ~F.col("p_name").like("%blue%")
        & F.col("p_retailprice").between(100, 1800)
    )
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority").like("_-%"))
    return adaptive(
        l.join(B(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .agg(
            F.min("p_name").alias("min_pname"),
            F.min("p_type").alias("min_ptype"),
            F.min("o_orderpriority").alias("min_prio"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "job_theta_join",
    f"""
    SELECT s_name, COUNT(*) AS n_rows, {DS('l_extendedprice')} AS price_sum
    FROM lineitem, supplier, orders
    WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
      AND l_extendedprice > o_totalprice * 0.5
    GROUP BY s_name
    """,
    tags=("job", "join", "theta"),
)
def job_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta predicate across tables (reference: non-equi join predicates
    evaluated as post-bind filters, LeftDeepPlan.java:111-122; Spark attaches
    them to the hash join as residual conditions)."""
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    return adaptive(
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_extendedprice > o.o_totalprice * 0.5),
        )
        .join(B(s), l.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice")).alias("price_sum"),
        )
    )


@register(
    "job_wide_star",
    """
    SELECT MIN(p_name) AS min_pname, MIN(s_name) AS min_sname,
           MIN(n_name) AS min_nname, MIN(r_name) AS min_rname,
           MIN(o_orderdate) AS min_odate, COUNT(*) AS n_rows
    FROM lineitem, part, supplier, nation, region, orders
    WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND l_orderkey = o_orderkey
      AND p_size BETWEEN 10 AND 40 AND s_acctbal > -500
      AND o_orderstatus <> 'P' AND l_discount < 0.09
    """,
    tags=("job", "join"),
)
def job_wide_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way snowflake — the widest JOB template family (joins every table
    reachable from lineitem; the plan must broadcast all four dims and
    shuffle only for orders)."""
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") < 0.09)
    p = read_table(spark, sf_dir, "part").filter(F.col("p_size").between(10, 40))
    s = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > -500)
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    return adaptive(
        l.join(B(p), l.l_partkey == p.p_partkey)
        .join(B(s), l.l_suppkey == s.s_suppkey)
        .join(B(n), s.s_nationkey == n.n_nationkey)
        .join(B(r), n.n_regionkey == r.r_regionkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .agg(
            F.min("p_name").alias("min_pname"),
            F.min("s_name").alias("min_sname"),
            F.min("n_name").alias("min_nname"),
            F.min("r_name").alias("min_rname"),
            F.min("o_orderdate").alias("min_odate"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "job_chain_dates",
    """
    SELECT MIN(c_name) AS min_cname, MIN(o_orderdate) AS min_odate,
           MAX(l_shipdate) AS max_sdate, COUNT(*) AS n_rows
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      AND c_nationkey = n_nationkey
      AND n_name LIKE 'NATION_1%'
      AND o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'
      AND l_shipdate  <  TIMESTAMP '1997-06-01 00:00:00'
    """,
    tags=("job", "join", "like"),
)
def job_chain_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOB chain-join shape with date-range + LIKE-prefix predicates."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= ts("1996-06-01"))
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < ts("1997-06-01"))
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name").like("NATION_1%"))
    return adaptive(
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(B(n), c.c_nationkey == n.n_nationkey)
        .agg(
            F.min("c_name").alias("min_cname"),
            F.min("o_orderdate").alias("min_odate"),
            F.max("l_shipdate").alias("max_sdate"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
