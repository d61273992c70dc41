"""catalog.read_table takes each table's schema from its parquet footer on
the driver: the schema is the one Spark's own inference returns, and a read
runs no Spark job."""

from __future__ import annotations

import datetime
import glob
import json
import os
import uuid

import pytest
from pyspark.sql.types import LongType, StructType

from skinnerdb_spark.catalog import TABLES, read_table, table_path
from skinnerdb_spark.sources.csv import store_table
from skinnerdb_spark.state import plan_helper

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _footer_schema(spark, path: str) -> StructType:
    return StructType.fromJson(
        json.loads(plan_helper(spark).parquetSchema(spark._jsparkSession, path))
    )


def test_footer_schema_equals_inferred_schema(spark, sf_dir, tmp_path):
    """Every table of the benchmark's and the tests' warehouses, and a
    store_table output directory holding '_' and '.' files Spark skips."""
    warehouses = sorted(
        set(glob.glob(os.path.join(ROOT, "perfbench", "data", "sf*")))
        | set(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    )
    paths = [table_path(w, t) for w in warehouses for t in TABLES if os.path.exists(table_path(w, t))]
    assert len(paths) >= 10 * len(warehouses) - 2 and sf_dir in warehouses
    out = str(tmp_path / "stored")
    store_table(read_table(spark, sf_dir, "orders").repartition(3), out)
    assert {f[0] for f in os.listdir(out)} >= {"_", ".", "p"}
    paths.append(out)
    spark.conf.set(NANOS, "true")
    for p in paths:
        assert _footer_schema(spark, p) == spark.read.parquet(p).schema, p


def test_events_nanos_column_converted_before_footer_read(spark, tmp_path):
    """An events table whose ts is TIMESTAMP(NANOS): read_table sets
    nanosAsLong before it reads the footer, so a session without the
    setting gets the long column, converted to TIMESTAMP_NTZ by truncating
    to microseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    path = table_path(str(tmp_path), "events")
    before = spark.conf.get(NANOS, None)
    spark.conf.unset(NANOS)
    try:
        df = read_table(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS) == "true"
        assert _footer_schema(spark, path) == spark.read.parquet(path).schema
        assert _footer_schema(spark, path)["ts"].dataType == LongType()
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert [r.ts for r in df.orderBy("event_id").collect()] == [
            datetime.datetime(2023, 11, 14, 22, 13, 20, 123456),
            datetime.datetime(2023, 11, 14, 22, 15, 0, 0),
        ]
    finally:
        spark.conf.set(NANOS, before or "true")


@pytest.mark.parametrize("entry", ["asof_latest_order", "ev_tumbling_hour"])
def test_nanos_events_warehouse_matches_oracle_checked_rows(spark, sf_dir, tmp_path, entry):
    """A registry entry reading events.ts gives the same rows on a
    warehouse whose events.ts is TIMESTAMP(NANOS) as on the test warehouse,
    whose rows test_oracle.py compares with DuckDB. The other tables are
    symlinks; ts is the test warehouse's micros times 1000, so truncating
    back to micros is exact."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from skinnerdb_spark.registry import all_specs

    for t in TABLES:
        if t != "events":
            os.symlink(table_path(sf_dir, t), table_path(str(tmp_path), t))
    events = pq.read_table(table_path(sf_dir, "events"))
    i = events.schema.get_field_index("ts")
    ns = pc.multiply(events["ts"].cast(pa.int64()), 1000).cast(pa.timestamp("ns"))
    pq.write_table(events.set_column(i, "ts", ns), table_path(str(tmp_path), "events"), version="2.6")
    assert pq.read_schema(table_path(str(tmp_path), "events")).field("ts").type == pa.timestamp("ns")

    run = all_specs()[entry].spark
    rows = [sorted(run(spark, d).collect(), key=repr) for d in (str(tmp_path), sf_dir)]
    assert rows[0] == rows[1] and rows[0]


def test_read_table_runs_no_job(spark, sf_dir):
    sc = spark.sparkContext
    group = f"read-table-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "read_table")
    try:
        for t in TABLES:
            read_table(spark, sf_dir, t)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
