"""Round-12 optimization identity pins: each restructured entry must equal
its pre-r12 formulation row-for-row on the test corpus (the r11
countmin/kmeans/WCOJ kernel-identity pattern). The oracle gate already
certifies the outputs; these tests pin the REWRITE EQUIVALENCE itself so a
future edit that breaks one half is caught locally without DuckDB."""

from __future__ import annotations

from pyspark.sql import functions as F

from skinnerdb_spark.functions.exact import davg, dsum
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import all_specs


def _sorted_pdf(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(by=cols).reset_index(drop=True)


def _assert_frames_equal(a, b):
    pa, pb = _sorted_pdf(a), _sorted_pdf(b)
    assert len(pa) == len(pb)
    assert pa.astype(str).equals(pb.astype(str))


def test_q17_semi_filtered_avg_matches_full_aggregate(spark, sf_dir):
    """r12: the correlated-AVG side is LEFT SEMI filtered by the Brand#2
    partkey set before aggregating. Identity: per-partkey averages over
    kept groups are unchanged (the semi join drops whole groups, never
    rows within one), so the entry equals the full-aggregate shape."""
    B = F.broadcast
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    l = read_table(spark, sf_dir, "lineitem")
    avg_qty = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.lit(0.5) * davg(F.col("l_quantity"))).alias("half_avg_qty")
    )
    reference = (
        l.join(B(p), l.l_partkey == p.p_partkey)
        .join(avg_qty, l.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg((dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )
    entry = all_specs()["tpch_q17"].spark(spark, sf_dir)
    _assert_frames_equal(entry, reference)


def test_bloom_per_key_fold_matches_row_level_reference(spark, sf_dir):
    """r12: approx_bloom_semijoin's statistics fold out of the per-key
    count frame. Identity vs the pre-r12 row-level reference: join the
    corpus rows back to the flags and count with multi-countDistinct."""
    from skinnerdb_spark.queries.extensions import (
        BLOOM_K,
        BLOOM_M,
        _bloom_bucket_spark,
    )

    o = read_table(spark, sf_dir, "orders")
    build = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1996-01-01")
        )
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    bits = None
    for i in (1, 2, 3):
        part = build.select(F.expr(_bloom_bucket_spark(i)).alias("b"))
        bits = part if bits is None else bits.unionAll(part)
    bits = bits.distinct()
    li = read_table(spark, sf_dir, "lineitem")
    rows_probe = li.filter(
        (F.col("l_shipdate") >= "1995-07-01") & (F.col("l_shipdate") < "1996-01-01")
    ).select(F.col("l_orderkey").alias("k"))
    probe = rows_probe.distinct()
    pe = probe.select(
        "k",
        F.explode(
            F.array(*[F.expr(_bloom_bucket_spark(i)) for i in (1, 2, 3)])
        ).alias("b"),
    )
    pass_keys = (
        pe.join(F.broadcast(bits), "b")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nset"))
        .filter(F.col("nset") == BLOOM_K)
        .select("k")
    )
    flags = (
        probe.join(build.withColumn("is_true", F.lit(True)), "k", "left")
        .join(pass_keys.withColumn("is_pass", F.lit(True)), "k", "left")
        .select(
            "k",
            F.coalesce("is_true", F.lit(False)).alias("is_true"),
            F.coalesce("is_pass", F.lit(False)).alias("is_pass"),
        )
    )
    counts = rows_probe.join(flags, "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_probe"),
        F.sum(F.when(F.col("is_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rows_pass"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rows_true"),
        F.countDistinct("k").cast("bigint").alias("n_probe"),
        F.countDistinct(F.when(F.col("is_pass"), F.col("k")))
        .cast("bigint")
        .alias("n_pass"),
        F.countDistinct(F.when(F.col("is_true"), F.col("k")))
        .cast("bigint")
        .alias("n_true_keys"),
    )

    def c1(df, name):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    reference = (
        c1(build, "n_build")
        .crossJoin(F.broadcast(c1(bits, "n_bits")))
        .crossJoin(F.broadcast(counts))
        .select(
            "n_build",
            "n_bits",
            "n_probe",
            "n_pass",
            "n_true_keys",
            (F.col("n_pass") - F.col("n_true_keys")).cast("bigint").alias("n_false_pos"),
            F.expr(
                "CAST(n_pass - n_true_keys AS DOUBLE)"
                " / NULLIF(n_probe - n_true_keys, 0)"
            ).alias("key_fp_rate"),
            F.expr(f"CAST(n_bits AS DOUBLE) / {BLOOM_M}").alias("bits_load"),
            F.expr(
                f"(CAST(n_bits AS DOUBLE) / {BLOOM_M})"
                f" * (CAST(n_bits AS DOUBLE) / {BLOOM_M})"
                f" * (CAST(n_bits AS DOUBLE) / {BLOOM_M})"
            ).alias("fp_bound"),
            "n_rows_probe",
            "n_rows_pass",
            "n_rows_true",
        )
    )
    entry = all_specs()["approx_bloom_semijoin"].spark(spark, sf_dir)
    _assert_frames_equal(entry, reference)


def test_asof_first_shipment_matches_general_asof_join(spark, sf_dir):
    """r12: the unique-left-key rewrite must equal the general forward
    as-of join formulation (union + descending carry) row-for-row."""
    from skinnerdb_spark.operators.temporal import asof_join

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderdate", "o_orderpriority"
    )
    l = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_shipdate")
        .agg(F.min("l_quantity").alias("first_qty"))
        .select(F.col("l_orderkey").alias("k"), "l_shipdate", "first_qty")
    )
    j = asof_join(
        o, l, key="k", left_ts="o_orderdate", right_ts="l_shipdate",
        direction="forward",
    )
    reference = j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")))
        .cast("bigint")
        .alias("total_wait_days"),
        dsum(F.col("first_qty")).alias("first_ship_qty"),
    )
    entry = all_specs()["asof_first_shipment"].spark(spark, sf_dir)
    _assert_frames_equal(entry, reference)


def test_ned_keyed_build_matches_transform_lambda_reference(spark, sf_dir):
    """r12: the top-level-hash deletion-key build must emit exactly the
    (name, key) SET the old transform()-lambda + array_union shape did."""
    from skinnerdb_spark.operators.text import deletion_keys

    names = (
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_name").alias("name"))
        .distinct()
    )
    reference = names.select(
        "name",
        F.explode(
            F.expr(
                "transform(array_union(array(name), "
                "transform(sequence(1, length(name)), i -> "
                "concat(substring(name, 1, i - 1), "
                "substring(name, i + 1, length(name) - i)))), x -> xxhash64(x))"
            )
        ).alias("k"),
    )
    _assert_frames_equal(deletion_keys(names), reference)


def test_pmi_family_derivation_matches_inline_counts(spark, sf_dir):
    """r12: docs_pmi_topk derives cab from the shared bigram-instance memo
    (cab = SUM(k)) and memoizes uni. Identity vs the pre-r12 inline shape."""
    from skinnerdb_spark.operators.text import _PAIRS_EXPR, PMI_MIN_COUNT, PMI_TOP
    from skinnerdb_spark.queries.util import ranked_topk

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    ts = d.withColumn("toks", F.expr("filter(split(text, ' '), x -> x != '')"))
    uni = (
        ts.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("t"))
    big = (
        ts.select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .select(F.col("p.lhs").alias("a"), F.col("p.rhs").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
    )
    stot = big.agg(F.sum("cab").cast("bigint").alias("s"))
    ua = uni.select(F.col("term").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("term").alias("b"), F.col("c").alias("cb"))
    scored = (
        big.filter(F.col("cab") >= PMI_MIN_COUNT)
        .join(ua, "a")
        .join(ub, "b")
        .join(F.broadcast(tot))
        .join(F.broadcast(stot))
        .select(
            "a",
            "b",
            "cab",
            (
                (F.col("cab").cast("double") * F.col("t") * F.col("t"))
                / (F.col("s").cast("double") * F.col("ca") * F.col("cb"))
            ).alias("pmi_ratio"),
        )
    )
    reference = ranked_topk(
        scored, [("pmi_ratio", "desc"), ("a", "asc"), ("b", "asc")], PMI_TOP
    )
    entry = all_specs()["docs_pmi_topk"].spark(spark, sf_dir)
    _assert_frames_equal(entry, reference)
