from __future__ import annotations

import os

import duckdb
import pytest

from skinnerdb_spark.catalog import TABLES, table_path
from skinnerdb_spark.session import get_spark

SF_DIR = os.environ.get("SKINNER_TEST_SF_DIR", "/root/testdata/sf0.001")
# static oracle SQL (e.g. sim_ivf_ann's persisted-index path) must target the
# SF the tests run at — pin before the registry is populated
os.environ.setdefault("SKINNER_ORACLE_SF_DIR", SF_DIR)
# get_spark's 32g driver heap default lets the suite's JVM grow past the
# memory of a 16 GB host, where the kernel kills it mid-suite; the tests
# read sf0.001, and subprocess sessions inherit the setting
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="skinnerdb-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF_DIR, t)}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
