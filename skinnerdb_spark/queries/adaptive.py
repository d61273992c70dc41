"""Adaptive-join-ordered query — the reference's headline feature exercised
inside the correctness gate.

The star join is built with the DataFrame API and wrapped in
``queries.util.adaptive``: plans/graph.py extracts the join graph from the
analyzed plan, scores candidate left-deep orders by sampled C_out (the
summed join output rows of one execution on a seeded sample of the fact
table) and executes the lowest-scoring order as a plain join chain. Inner
joins commute, so the result must be — and is, oracle-verified — identical
to Catalyst's own choice; only the physical plan differs. bench=False: this
entry demonstrates the planner, the equivalent static plan is timed as
tpch_q05.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skinnerdb_spark.functions.exact import DS, dsum
from skinnerdb_spark.queries.util import adaptive, read_table, ts
from skinnerdb_spark.registry import register


@register(
    "adaptive_star_join",
    f"""
    SELECT n_name, COUNT(*) AS n_rows, {DS('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem, orders, supplier, nation
    WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
    bench=False,
    tags=("adaptive", "join"),
)
def adaptive_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= ts("1996-01-01"))
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    return adaptive(
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )
