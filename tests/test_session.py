"""session.get_spark launches the JVM with no classpath of its own: the
plan helper loads from the jar at run time (state.plan_helper), and a
caller's driver classpath passes through as given."""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import SparkSession

from skinnerdb_spark import state
from skinnerdb_spark.session import get_spark

CP = "spark.driver.extraClassPath"


def test_session_launches_without_the_jar(spark):
    assert state.JAR not in spark.sparkContext.getConf().get(CP, "")
    assert state.plan_helper(spark) is not None


def test_user_driver_classpath_passes_through(monkeypatch):
    """Checked on the builder's options: no second JVM is launched."""
    launched = []

    def get_or_create(builder):
        launched.append(dict(builder._options))
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    user = os.pathsep.join(["deps/a.jar", "deps/b.jar"])
    get_spark(extra_conf={CP: user})
    get_spark()
    assert launched[0][CP] == user
    assert CP not in launched[1]
