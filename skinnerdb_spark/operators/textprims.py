"""Portable text primitives shared by the text/dedup operators.

Everything here is engineered to produce *bit-identical* results in Spark and
in the DuckDB oracle:

- tokenization: literal single-space split (same semantics in both engines;
  the synthetic documents are single-space separated).
- hashing: md5 hex strings only. Both engines implement RFC-1321 md5 over
  UTF-8 and print lowercase hex, so MIN() over hex strings (lexicographic,
  ASCII) and substring tricks are portable. Engine-native hash() functions
  are NOT portable (Spark xxhash/murmur vs DuckDB) and are never used in
  oracle-checked paths.
- word-shingles: contiguous k-grams built with 1-based element indexing
  (Spark element_at == DuckDB list[i]).

Scale notes: all of this is built-in-function column algebra — JVM-side,
whole-stage-codegen'd, no Python UDFs — so it distributes trivially; the only
shuffles are the explicit groupBys in the operators that use these.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: estimated input bytes per core at or above which fan_out is a no-op
FAN_OUT_MIN_BYTES_PER_CORE = 32 * 1024 * 1024


def fan_out(df):
    """Repartition to cluster parallelism before CPU-heavy per-row hash folds
    — but ONLY when the input is too small to already occupy the cluster.

    A small parquet file scans as 1-2 partitions, which would serialize the
    hash folds onto one core; the round-robin shuffle is then one cheap pass
    over data that is about to be hash-folded anyway. At real scale the scan
    is already wide and the same call must NOT inject a gratuitous full
    shuffle of the corpus, so the helper is size-conditional: when the
    optimizer's size estimate says the input already carries >=
    :data:`FAN_OUT_MIN_BYTES_PER_CORE` per core — i.e. the natural scan
    partitioning feeds every core — the input is returned unchanged. Stats
    come from the optimized logical plan (no job runs); where they are
    unavailable (Spark Connect has no ``df._jdf``) the input fans out.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if size >= cores * FAN_OUT_MIN_BYTES_PER_CORE:
            return df
    except Exception:
        pass  # stats unavailable (e.g. Spark Connect) -> fan out
    return df.repartition(cores)


def shingles_expr(words_col: str, k: int = 3) -> Column:
    """Contiguous k-word shingles as array<string> (empty if < k words).

    Guarded CASE because Spark's sequence(1, n) steps *backwards* when n < 1.
    """
    joined = " || ' ' || ".join(f"element_at({words_col}, i + {j})" for j in range(k))
    return F.expr(
        f"CASE WHEN size({words_col}) < {k} THEN array() "
        f"ELSE transform(sequence(1, size({words_col}) - {k - 1}), i -> {joined}) END"
    )


#: DuckDB CTEs producing (doc_id, s) word 3-shingles of documents — mirror
#: of :func:`shingles_expr` at k=3. Uses the *list-returning*
#: generate_series + unnest (DuckDB's table function form rejects lateral
#: column arguments); inclusive bounds match Spark's sequence().
ORACLE_SHINGLES_CTE = """
    ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w, UNNEST(generate_series(1, len(w) - 2)) AS i
            FROM ws WHERE len(w) >= 3),
    sh AS (SELECT doc_id, w[i + 0] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s FROM idx)
    """


#: portable hex-nibble high-bit test: md5 hex char in [8-f] <=> top bit set.
HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def hex_high_sql(char_expr: str) -> str:
    quoted = ", ".join(f"'{c}'" for c in HEX_HIGH)
    return f"({char_expr} IN ({quoted}))"


# Portable integer hashes: ``n`` hex digits of an md5 digest, from 1-based
# position ``start``, read as a BIGINT — the same integer in both engines
# for n <= 15 (60 bits). Spark's conv() returns a decimal STRING, so the
# explicit BIGINT cast keeps later arithmetic integral whatever the
# session's ANSI setting.
def hex_int(hex_expr: str, start: int | str, n: int) -> str:
    """Spark SQL: digits start..start+n-1 of the hex string ``hex_expr``."""
    return f"CAST(conv(substring({hex_expr}, {start}, {n}), 16, 10) AS BIGINT)"


def HEX_INT(hex_expr: str, start: int | str, n: int) -> str:
    """Oracle-SQL (DuckDB) counterpart of :func:`hex_int`."""
    return f"CAST(('0x' || SUBSTR({hex_expr}, {start}, {n}))::UBIGINT AS BIGINT)"


def md5_int(text: str, n: int) -> str:
    """Spark SQL: the first ``n`` md5 hex digits of the string ``text``."""
    return hex_int(f"md5(CAST({text} AS BINARY))", 1, n)


def MD5_INT(text: str, n: int) -> str:
    """Oracle-SQL (DuckDB) counterpart of :func:`md5_int`."""
    return HEX_INT(f"md5({text})", 1, n)
