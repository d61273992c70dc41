"""Property tests for the cross-engine-exact layer (functions/exact.py and
the integer hashes of operators/textprims.py): the whole oracle methodology
rests on dsum being aggregation-order-independent, so prove it under
adversarial partitionings, and on each shared kernel's Spark spelling and
DuckDB mirror agreeing bit for bit, so check them on generated inputs."""

from __future__ import annotations

import struct

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from skinnerdb_spark.catalog import read_table
from skinnerdb_spark.functions.exact import DDOT, TO_DEC, TO_DEC6, TO_DOUBLE, davg, ddot, dsum
from skinnerdb_spark.operators.textprims import HEX_INT, MD5_INT, hex_int, md5_int


@pytest.mark.parametrize("n_parts", [1, 3, 13, 32])
def test_dsum_partition_invariant(spark, sf_dir, n_parts):
    """The same sum regardless of partition count / combine order — exactly
    where plain double SUM diverges."""
    l = read_table(spark, sf_dir, "lineitem")
    expr = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    baseline = l.coalesce(1).agg(dsum(expr).alias("s")).collect()[0].s
    got = l.repartition(n_parts).agg(dsum(expr).alias("s")).collect()[0].s
    assert got == baseline, f"{n_parts} parts: {got!r} != {baseline!r}"


def test_plain_double_sum_is_order_dependent_here(spark, sf_dir):
    """Sanity check that the decimal detour is actually necessary: plain
    double sums of the same measure differ across partitionings on this very
    data (if this ever starts passing for all partitionings, the guard is
    vacuous, not wrong)."""
    l = read_table(spark, sf_dir, "lineitem")
    expr = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    vals = {
        l.repartition(n).agg(F.sum(expr).alias("s")).collect()[0].s for n in (1, 7, 32)
    }
    # not asserting inequality (it's data-dependent), just documenting:
    # any spread here is the error dsum eliminates
    assert len(vals) >= 1


def test_davg_matches_sum_over_count(spark, sf_dir):
    l = read_table(spark, sf_dir, "lineitem")
    row = l.agg(
        davg(F.col("l_quantity")).alias("a"),
        dsum(F.col("l_quantity")).alias("s"),
        F.count("l_quantity").alias("c"),
    ).collect()[0]
    assert row.a == row.s / row.c


# --- cross-engine kernels: each Spark spelling against its DuckDB mirror ---

DIM, SUB = 8, 4  # vector length and sub-vector (slice) length of the checks
_SEEDED = settings(max_examples=12, deadline=None, derandomize=True, database=None)


def _f32(sign: int, mantissa: int, exp: int) -> float:
    return struct.unpack("f", struct.pack("f", sign * mantissa * 2.0 ** (exp - 24)))[0]


#: full-precision float32 in (-1, 1) like the warehouse embeddings: an odd
#: 24-bit mantissa, so no product of two of them is a decimal rounding tie
#: at 12 places (see test_exact_tie_is_outside_the_dot_domain)
f32 = st.builds(
    _f32,
    st.sampled_from([-1, 1]),
    st.integers(2**23, 2**24 - 1).map(lambda m: m | 1),
    st.integers(-8, 0),
)
vec_pairs = st.lists(
    st.tuples(st.lists(f32, min_size=DIM, max_size=DIM), st.lists(f32, min_size=DIM, max_size=DIM)),
    min_size=1,
    max_size=16,
)


def _both(spark, rows: list, ddl: str, spark_cols: dict, duck_cols: dict) -> tuple:
    """Each named column computed by Spark and by DuckDB over the same rows
    (ordered by the first column ``i``)."""
    df = spark.createDataFrame(rows, ddl)
    got = df.selectExpr("i", *(f"{e} AS {n}" for n, e in spark_cols.items())).orderBy("i")
    con = duckdb.connect()
    names = [c.split()[0] for c in ddl.split(", ")]
    con.register("src", pd.DataFrame(rows, columns=names))
    casts = ", ".join(
        f"CAST({n} AS {'FLOAT[]' if 'array' in t else 'VARCHAR'}) AS {n}"
        for n, t in (c.split(" ", 1) for c in ddl.split(", ")[1:])
    )
    con.execute(f"CREATE TABLE t AS SELECT i, {casts} FROM src")
    sel = ", ".join(f"{e} AS {n}" for n, e in duck_cols.items())
    want = con.execute(f"SELECT {sel} FROM t ORDER BY i").fetchall()
    con.close()
    return [tuple(r)[1:] for r in got.collect()], [tuple(r) for r in want]


def _bits(rows: list) -> list:
    """Doubles by their IEEE bits (so -0.0 != 0.0), decimals as they are."""
    return [
        tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rows
    ]


@_SEEDED
@given(pairs=vec_pairs, s=st.integers(0, DIM // SUB - 1))
def test_dot_kernels_match_duckdb(spark, pairs, s):
    """ddot == DDOT bitwise: the dot (double), the sub-th SUB-slice of ``a``
    against ``b``'s head (decimal, the PQ sub-dot shape) and the squared
    norm re-scaled to (22,6)."""
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    got, want = _both(
        spark,
        rows,
        "i int, a array<float>, b array<float>",
        {
            "dot": ddot("a", "b", TO_DOUBLE),
            "sub": ddot(f"slice(a, {s * SUB + 1}, {SUB})", f"slice(b, 1, {SUB})", TO_DEC),
            "nsq": ddot("a", "a", TO_DEC6),
        },
        {
            "dot": DDOT("a[i]", "b[i]", DIM, TO_DOUBLE),
            "sub": DDOT(f"a[{s * SUB} + i]", "b[i]", SUB, TO_DEC),
            "nsq": DDOT("a[i]", "a[i]", DIM, TO_DEC6),
        },
    )
    assert _bits(got) == _bits(want)


def test_exact_tie_is_outside_the_dot_domain(spark):
    """The products are rounded once into DECIMAL(28,12); a product that is
    an odd multiple of 2^-13 sits exactly on that rounding boundary, where
    Spark rounds half up and DuckDB half to even. Full-precision inputs
    never produce such a product (the strategy above); coarse dyadic ones
    do, and the engines then differ — pinned so a fix is noticed."""
    rows = [(0, [0.125], [2.0**-10])]
    got, want = _both(
        spark, rows, "i int, a array<float>, b array<float>",
        {"p": ddot("a", "b", TO_DEC)}, {"p": DDOT("a[i]", "b[i]", 1, TO_DEC)},
    )
    assert (str(got[0][0]), str(want[0][0])) == ("0.000122070313", "0.000122070312")


texts = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12)


@_SEEDED
@given(ts=st.lists(texts, min_size=1, max_size=16))
def test_md5_hashes_match_duckdb(spark, ts):
    """md5_int == MD5_INT at every width the entries use (6, 8 and 15 hex
    digits) and hex_int == HEX_INT on a mid-digest slice (the bootstrap's
    8 digits from position 17)."""
    rows = [(i, t) for i, t in enumerate(ts)]
    spark_cols = {f"h{n}": md5_int("t", n) for n in (6, 8, 15)}
    duck_cols = {f"h{n}": MD5_INT("t", n) for n in (6, 8, 15)}
    spark_cols["mid"] = hex_int("md5(CAST(t AS BINARY))", 17, 8)
    duck_cols["mid"] = HEX_INT("md5(t)", 17, 8)
    got, want = _both(spark, rows, "i int, t string", spark_cols, duck_cols)
    assert got == want
    assert all(0 <= r[2] < 16**15 for r in got)
