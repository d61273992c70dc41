"""Catalog: map the test warehouse (parquet-per-table directories) to Spark.

Replaces the reference's CatalogManager/DbInfo (src/catalog/CatalogManager.java:71-79,
src/catalog/info/TableInfo.java) — Spark's own catalog + lazy Parquet scans
subsume the Java-serialized schema file and the eager RAM load
(src/buffer/BufferManager.java:79-104).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from skinnerdb_spark.state import plan_helper

#: every table the driver generates (TESTDATA.md)
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: the warehouse that static oracles reading persisted artifacts embed,
#: resolved at import: the driver's gate runs at sf0.01 (default), and
#: tests/conftest.py pins it to the local test SF before any import
ORACLE_SF_DIR = os.environ.get("SKINNER_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy columnar scan; Catalyst pushes filters/projections into it.

    The committed warehouses store events.ts as TIMESTAMP(MICROS). An
    events file written elsewhere may store it as TIMESTAMP(NANOS): Spark
    reads that as long (spark.sql.legacy.parquet.nanosAsLong) and we
    truncate to microseconds, exactly like DuckDB's ns->us conversion,
    yielding TIMESTAMP_NTZ under the UTC session.

    The config is set here at runtime (it is session-settable), not only in
    session.py, because callers — including the verification driver — may
    hand us a SparkSession built without our factory; a plain session throws
    PARQUET_TYPE_ILLEGAL on the events table otherwise.

    The schema is the one ``spark.read.parquet`` would infer, read from the
    first data file's footer on the driver with Spark's own reader and
    converter (``skinner.PlanHelper.parquetSchema``), so no
    schema-inference job runs. Nothing is cached: a rewritten table shows
    its new schema on the next read.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    schema = plan_helper(spark).parquetSchema(spark._jsparkSession, path)
    reader = spark.read if schema is None else spark.read.schema(
        StructType.fromJson(json.loads(schema))
    )
    df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos -> NTZ without any timezone dependency: epoch-NTZ + exact
        # decimal-second interval. (timestamp_micros + CAST AS TIMESTAMP_NTZ
        # would shift wall-clock under a non-UTC caller session.)
        df = df.withColumn(
            "ts",
            F.expr(
                "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ) + "
                "make_dt_interval(0, 0, 0, CAST(ts DIV 1000 AS DECIMAL(20,0)) / 1000000)"
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works directly —
    the equivalent of the reference console session having a loaded DB."""
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
