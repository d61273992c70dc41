"""CSV source with the reference loader's semantics.

Reference: src/diskio/LoadCSV.java:216-242 (parse loop :96-180) — explicit
schema, a configurable NULL-representation string, dates parsed to a day
granularity (the reference stores them as epoch-second ints,
LoadCSV.java:140-163; we keep native date/timestamp types per FIXTURES.md).

Spark's DataFrameReader covers all of it declaratively; this wrapper pins the
reference-compatible options and applies date/timestamp conversions for
string-typed date columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def load_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    sep: str = "|",
    null_rep: str = "",
    header: bool = False,
    date_format: str = "yyyy-MM-dd",
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
) -> DataFrame:
    """Load a CSV with explicit schema + NULL-representation string.

    ``nullValue`` mirrors the reference's nullRepresentation argument; dates
    and timestamps parse straight to DateType/TimestampType columns declared
    in the schema (no epoch-int detour).
    """
    return (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("nullValue", null_rep)
        .option("header", str(header).lower())
        .option("dateFormat", date_format)
        .option("timestampFormat", timestamp_format)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def store_table(df: DataFrame, path: str) -> None:
    """Persist as Parquet — the engine's column-store format (replaces the
    reference's one-serialized-file-per-column layout, src/data/IntData.java:60-67)."""
    df.write.mode("overwrite").parquet(path)


def compact(spark: SparkSession, path: str, out_path: str, target_mb: int = 128) -> int:
    """Small-file compaction: rewrite a parquet dataset into ~target_mb
    files. Training pipelines accrete thousands of tiny files per ingest
    batch; compaction restores scan efficiency (fewer tasks, bigger row
    groups, better dictionary pages). Returns the output file count."""
    df = spark.read.parquet(path)
    total_bytes = sum(
        f.stat().st_size for f in __import__("pathlib").Path(path).rglob("*.parquet")
    ) or sum(f.stat().st_size for f in __import__("pathlib").Path(path).glob("*") if f.is_file())
    n_files = max(1, int(total_bytes / (target_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files

