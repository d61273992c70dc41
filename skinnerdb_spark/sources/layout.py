"""Data-layout writers: sort and partition parquet for scan pruning.

The reference accelerates selective scans with RAM-resident integer indexes
(src/indexing/IntIndex.java) rebuilt per session. At 100 TB the Spark-native
equivalent is *layout*: make the parquet files themselves the index.

- :func:`write_range_sorted` — ``repartitionByRange`` + ``sortWithinPartitions``
  on the hot filter column(s). Every output file then covers a narrow,
  non-overlapping value range, so parquet row-group min/max statistics let a
  pushed-down predicate skip all but the matching files — the same
  I/O-elision an index gives, with zero serving-time state.
- :func:`write_hive_partitioned` — directory-level ``partitionBy`` on a
  LOW-cardinality derived key (e.g. month). Catalyst prunes partitions at
  planning time (``PartitionFilters`` in the scan node) without touching file
  footers. Rule of thumb encoded in the guard: keep partition count in the
  thousands, never per-high-cardinality-key (millions of tiny directories
  destroy listing and small-file performance).

- :func:`write_zorder` — multi-column locality via a Morton (Z-order) key:
  each hot column is min-max-scaled to 16 bits and the bits are
  interleaved, so sorting by the single key clusters BOTH columns at once.
  Range-sorting can make only its leading column's per-file min/max tight;
  Z-order makes every participating column's stats tight (~sqrt sharing of
  the selectivity), which is what lets two independent single-column
  predicates both skip files — the Delta/Iceberg ``OPTIMIZE ZORDER BY``
  layout, built from plain bit algebra.

Composed, these are the standard warehouse layout: partition by coarse time,
range-sort by the secondary filter key inside each partition (or Z-order
when two secondary keys are hot).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_range_sorted(
    df: DataFrame, path: str, cols: list[str], n_files: int = 32
) -> None:
    """Persist parquet range-partitioned + sorted on ``cols`` so row-group
    min/max stats make pushed-down filters on those columns skip files."""
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_hive_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    max_partitions: int = 10_000,
) -> None:
    """Persist parquet with directory-level partitioning on a coarse key.

    Refuses high-cardinality keys: each distinct value becomes a directory,
    and at warehouse scale millions of partitions turn listing+planning into
    the bottleneck (and every partition into small files).
    """
    n = df.select(partition_col).distinct().count()
    if n > max_partitions:
        raise ValueError(
            f"partition column {partition_col!r} has {n} distinct values "
            f"(> {max_partitions}); partition on a coarser derived key "
            "(e.g. month, source bucket) and range-sort within partitions"
        )
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def morton_key(scaled: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of pre-scaled non-negative longs —
    pure shift/mask/or column algebra, whole-stage-codegen'd JVM-side."""
    m = len(scaled)
    terms = [
        F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * m + (m - 1 - j))
        for b in range(bits)
        for j, c in enumerate(scaled)
    ]
    return reduce(lambda a, t: a.bitwiseOR(t), terms, F.lit(0)).cast("bigint")


def write_zorder(df: DataFrame, path: str, cols: list[str], n_files: int = 32) -> None:
    """Persist parquet clustered on the Morton interleave of ``cols``.

    Each column is min-max scaled to 16 bits (one tiny bounds
    aggregate, driver-collected — 2 numbers per column), the keys are
    interleaved, and files are range-partitioned + sorted on the single
    Z key. The key column is dropped before write: the layout IS the
    index, the schema stays unchanged. NULLs scale to 0 (first file).

    At 100 TB the bounds pass is a metadata-only min/max over footers if the
    source is already parquet; the rewrite itself is the same one-shuffle
    ``repartitionByRange`` as :func:`write_range_sorted`. Timestamp/date
    columns participate via their epoch representation (cast once before
    scaling) — time x key Z-orders are the common warehouse case.

    The bit width is clamped so the interleaved key fits 63 bits: 4+
    columns at 16 bits would shift into the bigint sign bit, flipping key
    signs and silently INVERTING the clustering order."""
    dtypes = dict(df.dtypes)
    if not cols:
        raise ValueError("write_zorder needs at least one cluster column")
    _NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double", "date")
    for c in cols:
        t = dtypes[c]
        if not (t.startswith(("decimal", "timestamp")) or t in _NUMERIC):
            raise ValueError(
                f"z-order column {c!r} has non-orderable-numeric type {t}; "
                "use mode='range' for string keys (lexicographic sort)"
            )
    bits = min(16, 63 // len(cols))

    def numeric(c: str) -> F.Column:
        t = dtypes[c]
        if t.startswith("timestamp"):
            return F.unix_micros(F.col(c).cast("timestamp"))
        if t == "date":
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("bigint")
        return F.col(c)

    lo_hi = df.agg(
        *[F.min(numeric(c)).alias(f"{c}__lo") for c in cols],
        *[F.max(numeric(c)).alias(f"{c}__hi") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo, hi = lo_hi[f"{c}__lo"], lo_hi[f"{c}__hi"]
        if lo is None or hi is None:  # empty table / all-NULL column
            lo, hi = 0, 0
        span = (hi - lo) or 1
        # scale in DOUBLE: integer (v-lo)*top overflows long for epoch-micros
        # spans, and a <=2^-37 relative FP error cannot matter for bucketing
        scaled.append(
            F.floor(
                (F.coalesce(numeric(c), F.lit(lo)) - F.lit(lo)).cast("double")
                * F.lit(float(top))
                / F.lit(float(span))
            ).cast("bigint")
        )
    keyed = df.withColumn("__zkey", morton_key(scaled, bits))
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .select(*df.columns)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_pruned(spark: SparkSession, path: str) -> DataFrame:
    """Plain parquet read; filters applied by the caller reach the scan as
    ``PushedFilters`` / ``PartitionFilters`` (asserted in tests/test_scale.py)."""
    return spark.read.parquet(path)
