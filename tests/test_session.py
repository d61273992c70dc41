"""session.get_spark launches the JVM with no classpath of its own: the
plan helper loads from the jar at run time (state.plan_helper), and a
caller's driver classpath passes through as given. The driver heap
defaults to half the host's memory, between 1g and 32g."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from skinnerdb_spark import state
from skinnerdb_spark.session import get_spark

CP = "spark.driver.extraClassPath"


def test_session_launches_without_the_jar(spark):
    assert state.JAR not in spark.sparkContext.getConf().get(CP, "")
    assert state.plan_helper(spark) is not None


@pytest.fixture
def launched(monkeypatch):
    """The builder options of each get_spark call; no JVM is launched."""
    options = []

    def get_or_create(builder):
        options.append(dict(builder._options))
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return options


def test_user_driver_classpath_passes_through(launched):
    user = os.pathsep.join(["deps/a.jar", "deps/b.jar"])
    get_spark(extra_conf={CP: user})
    get_spark()
    assert launched[0][CP] == user
    assert CP not in launched[1]


def _host_memory(monkeypatch, gib: float) -> None:
    real = os.sysconf
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(gib * 2**30) // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages.get(name) or real(name))


@pytest.mark.parametrize(
    "gib, heap", [(15.6, "7g"), (64, "32g"), (512, "32g"), (1.5, "1g"), (0.5, "1g")]
)
def test_driver_heap_defaults_to_half_the_host(monkeypatch, launched, gib, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host_memory(monkeypatch, gib)
    get_spark()
    assert launched[0]["spark.driver.memory"] == heap


def test_driver_heap_env_var_wins(monkeypatch, launched):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "12g")
    _host_memory(monkeypatch, 4)
    get_spark()
    assert launched[0]["spark.driver.memory"] == "12g"
