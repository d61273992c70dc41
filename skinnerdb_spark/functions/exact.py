"""Cross-engine-exact aggregate helpers.

The driver verifies every query against a DuckDB oracle with an
order-insensitive value hash. Plain ``SUM(double)`` is order-dependent
(floating-point addition is not associative), so Spark's partial/final
aggregation tree and DuckDB's single-threaded sum can differ in the last bits
and break the hash.

Fix: sum in exact DECIMAL space. Each input double is rounded once to
DECIMAL(18,4) — identical on both engines since a binary double essentially
never sits exactly on a decimal rounding boundary — and decimal addition is
exact and associative, so any aggregation order yields the same result. The
final cast back to double is the IEEE-correct rounding of the same decimal on
both engines.

This mirrors the reference's determinism (single-threaded Java double loops,
src/operators/SumAggregate.java:88-126) without giving up Spark parallelism.
Cost: decimal adds are slower than double adds, but stay JVM-side inside
whole-stage codegen — still vectorized, still partial-aggregated map-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scale choice, two constraints:
# 1. EXACT CAST IN: TPC-H-style measures (price * (1-disc) * (1+tax)) carry
#    at most 6 true decimal digits, so scale >= 6 makes the decimal cast
#    exact — no rounding, hence no half-way ties where Spark (HALF_UP via
#    shortest-repr) and DuckDB (multiply-and-round) disagree. Scale 4 broke
#    q01 (~1% tie rate). Full-precision random doubles tie with prob ~0.
# 2. EXACT CAST OUT: the final decimal->double conversion is only
#    bit-identical across engines while the SCALED integer fits in 2^53 —
#    beyond that DuckDB double-rounds ((double)scaled_int / 10^scale) while
#    Spark rounds once. At scale 6 sums stay exactly convertible up to
#    ~9e9 in magnitude (covers sf1-3); scale 8 broke covariance sums at
#    sf0.01. Higher-magnitude second moments use scale 2 locally.
_DEC = "decimal(30,6)"


def dsum(c: Column) -> Column:
    """Order-independent SUM over a double expression (result: double)."""
    return F.sum(c.cast(_DEC)).cast("double")


def davg(c: Column) -> Column:
    """Order-independent AVG (exact sum / count; one deterministic division).

    Mirrors the reference's AVG -> SUM/COUNT rewrite
    (src/expressions/normalization/SimplificationVisitor.java:163-184).
    """
    return F.sum(c.cast(_DEC)).cast("double") / F.count(c)


def DS(expr: str) -> str:
    """Oracle-SQL (DuckDB) counterpart of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE)"


def DAVG(expr: str) -> str:
    """Oracle-SQL (DuckDB) counterpart of :func:`davg`."""
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) / COUNT({expr}))"


# Exact dot products of float vectors. Each element product is taken in
# double (exact for float x float) and rounded once into DECIMAL(28,12); the
# fold accumulates at DECIMAL(30,12): (30,12)+(28,12) types as (31,12) —
# exact, below Spark's precision-38 cap (at 38 Spark would round away the
# last scale digit) — and re-casts to (30,12) losslessly. The sum is the
# same exact decimal in both engines whatever the fold order. ``to`` wraps
# that sum: TO_DOUBLE for a score, TO_DEC to keep it exact for comparisons
# and further sums, TO_DEC6 for a per-row value summed across rows (an
# explicit ROUND on both sides: DuckDB's decimal downscale cast truncates).
TO_DOUBLE = "CAST({} AS DOUBLE)"
TO_DEC = "CAST({} AS DECIMAL(30,12))"
TO_DEC6 = "CAST(ROUND({}, 6) AS DECIMAL(22,6))"


def ddot(a: str, b: str, to: str) -> str:
    """Spark SQL: the exact dot of two array<float> expressions, wrapped by
    ``to``. Plain SQL text, so it also works inside a lambda."""
    return to.format(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))), "
        f"CAST(0 AS DECIMAL(30,12)), (acc, v) -> CAST(acc + v AS DECIMAL(30,12)))"
    )


def DDOT(a: str, b: str, n: int, to: str) -> str:
    """Oracle-SQL (DuckDB) counterpart of :func:`ddot`: ``a`` and ``b`` are
    element expressions of the lateral 1-based index ``i`` in 1..n."""
    total = f"SUM(CAST(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE) AS DECIMAL(28,12)))"
    return f"(SELECT {to.format(total)} FROM generate_series(1, {n}) AS g(i))"


def dot_exact(a: str, b: str) -> Column:
    """Exact dot product of two array<float> columns, as a double."""
    return F.expr(ddot(a, b, TO_DOUBLE))


def norm_exact(a: str) -> Column:
    return F.sqrt(dot_exact(a, a))
