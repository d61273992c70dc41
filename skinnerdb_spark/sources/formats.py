"""JSONL, ORC and XML ingest/egress — the formats a training-data pipeline meets
beyond CSV/Parquet (reference scope is CSV only, src/diskio/LoadCSV.java;
this module is beyond-reference surface like the operators tier).

Scale rules encoded here rather than left to callers:

- JSONL without an explicit schema triggers a FULL inference scan of the
  input before the real read — twice the I/O at 100 TB. ``load_jsonl``
  and ``load_xml`` therefore take a required schema.
- Corrupt records are quarantined into a ``_corrupt_record`` column
  (PERMISSIVE mode) instead of failing the job — at billions of
  crawled-JSON lines there WILL be bad rows; dropping them silently
  (DROPMALFORMED) hides data loss, failing (FAILFAST) loses the cluster's
  progress. Callers filter/route the quarantine column explicitly.
- Writers emit snappy ORC / plain-text JSONL partitioned however the
  DataFrame is partitioned; pair with ``sources.csv.compact`` when small
  files accumulate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_col(schema: T.StructType | str) -> T.StructType:
    """``schema`` (a StructType or DDL string) plus the quarantine column."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if CORRUPT_COL not in schema.fieldNames():
        schema = schema.add(CORRUPT_COL, T.StringType())
    return schema


def load_jsonl(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """Read line-delimited JSON with an explicit schema.

    The schema is mandatory: schema inference reads the whole input once
    before the query runs, which doubles the scan at warehouse scale.
    Malformed lines land in ``_corrupt_record`` (added to the schema if
    absent) rather than failing or silently dropping.
    """
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(_with_corrupt_col(schema))
        .json(path)
    )


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, corrupt): rows whose JSON parsed vs rows quarantined into
    ``_corrupt_record``. The clean side drops the quarantine column.

    The input is cached first: Spark refuses queries that reference ONLY
    the corrupt-record column of a raw JSON scan (the column is populated
    per-pass; an isolated projection of it would be vacuously null —
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and caching is
    the documented materialization. At warehouse scale, prefer landing the
    parsed frame to Parquet once and splitting from there instead of
    caching a 100 TB raw parse."""
    from pyspark.sql import functions as F

    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, corrupt


def store_jsonl(df: DataFrame, path: str) -> None:
    """Write line-delimited JSON (one object per line — the exchange format
    every data-pipeline tool reads)."""
    df.write.mode("overwrite").json(path)


def load_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan — schema travels with the file, predicate pushdown
    and column pruning work exactly as with Parquet."""
    return spark.read.orc(path)


def store_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Write snappy ORC, optionally hive-partitioned by low-cardinality
    columns (partition pruning then skips directories at read time)."""
    w = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def load_xml(
    spark: SparkSession, path: str, row_tag: str, schema: T.StructType | str
) -> DataFrame:
    """Read XML via Spark 4's built-in ``xml`` data source (one row per
    ``row_tag`` element — feeds, sitemaps, Wikipedia dumps, PubMed).

    Same scale discipline as ``load_jsonl``: the schema is mandatory (XML
    inference is a full extra parse of the input), and malformed elements
    quarantine into ``_corrupt_record`` (PERMISSIVE) instead of failing the
    job — route them with ``quarantine_split`` exactly like JSONL."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(_with_corrupt_col(schema))
        .load(path)
    )


def store_xml(df: DataFrame, path: str, row_tag: str, root_tag: str = "rows") -> None:
    """Write XML (one ``row_tag`` element per row under ``root_tag`` per
    file)."""
    (
        df.write.mode("overwrite")
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )
