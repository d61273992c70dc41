"""State of the live Spark application — the one owner of everything this
package keeps per application.

PySpark runs one live SparkContext per process, and Spark's cache belongs
to that context. So one record, for the live application, holds:

- the memo LRU of cached intermediates that several entries share
  (:func:`memo`), keyed ``(sf_dir, key)``;
- the JVM plan helper (:func:`plan_helper`);
- one child session (:func:`child_session`).

The applicationId is read once per SparkContext object (two py4j round
trips, more than most handle lookups cost). When it changes — the session
was stopped and a new one started — every entry of the previous
application is dropped here, in one place: its cached blocks died with its
context, and a handle or child session of a dead application is never
served. The learned join-order cache is not per-application state (it is
keyed by scan scope and stays valid across applications); it lives in
``plans/graph.py``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

#: memo entries held at once; a miss past it evicts (and unpersists) the
#: least recently used entry — dropping only the Python reference would
#: leave the block in the JVM CacheManager, bounding this dict but not
#: executor storage memory
MEMO_CAP = 64

_MEMO: dict[tuple[str, str], DataFrame] = {}
_HELPER: Any = None
_CHILD: SparkSession | None = None
#: the SparkContext the entries above belong to, and its applicationId
_SC: SparkContext | None = None
_APP: str | None = None


def app_id(spark: SparkSession) -> str:
    """applicationId of ``spark``'s application; on a change of
    application, drops every entry of the previous one."""
    global _CHILD, _HELPER, _SC, _APP
    sc = spark.sparkContext
    if sc is not _SC:
        app = sc.applicationId
        if app != _APP:
            _MEMO.clear()
            _HELPER = None
            _CHILD = None
        _SC, _APP = sc, app
    return _APP


def memo(
    spark: SparkSession, sf_dir: str, key: str, builder: Callable[[], DataFrame]
) -> DataFrame:
    """``builder()``, cached once per application and warehouse: entries
    that share an intermediate (signatures, shingle sets, model tables)
    read one cached computation instead of re-running it. A hit moves the
    entry to the back of the LRU order."""
    app_id(spark)
    k = (sf_dir, key)
    df = _MEMO.pop(k, None)
    if df is None:
        df = builder().cache()
        while len(_MEMO) >= MEMO_CAP:
            _MEMO.pop(next(iter(_MEMO))).unpersist(blocking=False)
    _MEMO[k] = df
    return df


#: the compiled plans/java/ classes (tools/build_jar.py)
JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jars", "skinner-plans.jar")
#: (py4j gateway, PlanHelper class): the class is loaded once per JVM and
#: outlives a stop and restart of the application. py4j caches reflected
#: methods by class name, so a second class of the same name loaded after
#: a restart would be called with the first one's methods and fail.
_HELPER_CLASS: tuple[Any, Any] | None = None


def plan_helper(spark: SparkSession) -> Any:
    """The application's ``skinner.PlanHelper`` instance (plans/java/),
    which walks and rebuilds Catalyst plans in the JVM. Its class is loaded
    from :data:`JAR` through a URLClassLoader whose parent is Spark's own
    loader, so no session needs the jar on its launch classpath."""
    global _HELPER, _HELPER_CLASS
    app_id(spark)
    if _HELPER is None:
        jvm, gw = spark._jvm, spark.sparkContext._gateway
        if _HELPER_CLASS is None or _HELPER_CLASS[0] is not gw:
            urls = gw.new_array(jvm.java.net.URL, 1)
            urls[0] = jvm.java.io.File(JAR).toURI().toURL()
            parent = spark._jsparkSession.getClass().getClassLoader()
            loader = jvm.java.net.URLClassLoader(urls, parent)
            _HELPER_CLASS = (gw, loader.loadClass("skinner.PlanHelper"))
        _HELPER = _HELPER_CLASS[1].getConstructor(gw.new_array(jvm.java.lang.Class, 0)).newInstance(
            gw.new_array(jvm.java.lang.Object, 0)
        )
    return _HELPER


def child_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """The application's one child session, made by ``newSession()`` with
    ``conf`` set on first use. It shares the SparkContext, the table cache
    and builder-time confs but owns its SQLConf and temp-view namespace, so
    neither ``conf`` nor its temp views leak into the caller's session."""
    global _CHILD
    app_id(spark)
    if _CHILD is None:
        _CHILD = spark.newSession()
        for k, v in conf.items():
            _CHILD.conf.set(k, v)
    return _CHILD
