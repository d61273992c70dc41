from __future__ import annotations

import os

import duckdb
import pytest

SF_DIR = os.environ.get("SKINNER_TEST_SF_DIR", "/root/testdata/sf0.001")
# static oracle SQL (e.g. sim_ivf_ann's persisted-index path) must target the
# SF the tests run at — pin before skinnerdb_spark.catalog resolves it at import
os.environ.setdefault("SKINNER_ORACLE_SF_DIR", SF_DIR)

from skinnerdb_spark.catalog import TABLES, table_path  # noqa: E402
from skinnerdb_spark.session import get_spark  # noqa: E402

# the tests read sf0.001: a 4g driver heap is plenty, smaller than
# get_spark's host-sized default (half the physical memory), and the same
# on every host; subprocess sessions inherit the setting
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
