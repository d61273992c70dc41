"""Catalyst-side learned-order injection (plans/catalyst_rule.py — SURVEY
§4.3 option (c)): plain spark.sql() executes the bandit's learned join
order with no API change; clean fallback when the shim jar is absent."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from skinnerdb_spark.catalog import register_views
from skinnerdb_spark.plans import graph
from skinnerdb_spark.plans.catalyst_rule import (
    executed_join_order,
    install_learned_order_rule,
    rule_available,
    uninstall_learned_order_rule,
)

SQL3 = """
SELECT n_name, COUNT(*) AS n
FROM customer, orders, nation
WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey
GROUP BY n_name
"""


@pytest.fixture
def installed(spark, sf_dir):
    register_views(spark, sf_dir)
    assert rule_available(spark), "session must carry the shim jar (session.py)"
    install_learned_order_rule(spark)
    yield spark
    uninstall_learned_order_rule(spark)


def _learn(spark, sql, **kw):
    res = graph.adaptive_reorder(spark.sql(sql), **kw)
    assert res.best_order, res.reason
    return res.best_order


def test_plain_sql_executes_learned_order(installed, spark, sf_dir):
    base = spark.sql(SQL3)
    expect = sorted(map(tuple, base.collect()))
    learned = _learn(spark, SQL3, episodes=2, max_orders=6)
    after = spark.sql(SQL3)
    assert tuple(executed_join_order(after)) == tuple(learned)
    assert sorted(map(tuple, after.collect())) == expect
    assert spark._skinner_rule_proxy.errors == 0


def test_rule_is_identity_without_cached_order(installed, spark):
    # a shape with no learned order must pass through Catalyst untouched
    sql = """
    SELECT r_name, COUNT(*) AS n
    FROM supplier, nation, region
    WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    GROUP BY r_name
    """
    key = graph.extract_query_graph(installed.sql(sql)).cache_key
    graph._ORDER_CACHE.pop(key, None)
    before = executed_join_order(spark.sql(sql))
    rows = spark.sql(sql).collect()
    assert executed_join_order(spark.sql(sql)) == before
    assert len(rows) > 0
    assert spark._skinner_rule_proxy.errors == 0


def test_deep_join_executes_learned_order(installed, spark, sf_dir):
    """The 15-way chain shape (VERDICT r5 item 7's 'Done' bar): learn at
    the API boundary, then a PLAIN spark.sql() of the same template runs
    the learned order through the injected rule."""
    # lineitem star + nation/region snowflake + self-alias chain: 8 leaves
    # is the widest shape the sf0.001 suite joins quickly; the mechanism is
    # leaf-count-independent (flatten + left-deep rebuild)
    sql = """
    SELECT r_name, COUNT(*) AS n
    FROM lineitem, orders, customer, nation, region, supplier, part
    WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND l_suppkey = s_suppkey AND l_partkey = p_partkey
    GROUP BY r_name
    """
    expect = sorted(map(tuple, spark.sql(sql).collect()))
    learned = _learn(spark, sql, episodes=2, max_orders=8)
    after = spark.sql(sql)
    got_order = executed_join_order(after)
    assert tuple(got_order) == tuple(learned)
    assert sorted(map(tuple, after.collect())) == expect
    assert spark._skinner_rule_proxy.errors == 0


def test_fallback_when_jar_absent():
    """A PLAIN SparkSession (driver-style, no extraClassPath) must report
    the rule unavailable and install must be a clean no-op — queries still
    run through Engine.adaptive_sql / vanilla Catalyst."""
    code = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .appName("plain").getOrCreate())
        from skinnerdb_spark.plans.catalyst_rule import (
            install_learned_order_rule, rule_available)
        assert rule_available(spark) is False
        assert install_learned_order_rule(spark) is False
        print("FALLBACK_OK")
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert "FALLBACK_OK" in out.stdout, out.stderr[-2000:]


def test_noop_memo_invalidated_when_orders_learned(spark):
    """ADVICE r7: a plan memoized as a no-op BEFORE its order was learned
    must be re-examined after the order cache gains entries — otherwise the
    shape is never reordered for the rest of the session. Driven with a
    mock jplan so the memo/version logic is exercised in isolation (the
    mock fails extraction, which reorder() reports as an error without
    touching the memo; the memo entry is planted directly)."""
    from skinnerdb_spark.plans.catalyst_rule import _PyReorderer

    r = _PyReorderer(spark)

    class MockPlan:
        def semanticHash(self):
            return 424242

    # sync the memo version, then plant the no-op
    r.reorder(MockPlan())
    r._mark_noop(424242)
    before = r.skips
    r.reorder(MockPlan())
    assert r.skips == before + 1, "memoized no-op must short-circuit"

    # learning ANY order bumps the cache version -> memo must clear
    key = (("a", "b", "c"), ("noop-memo-test",), ())
    graph._cache_put(key, ("a", "b", "c"))
    try:
        before_skips = r.skips
        r.reorder(MockPlan())
        assert r.skips == before_skips, (
            "stale no-op memo must be cleared after new orders are learned"
        )
    finally:
        graph._ORDER_CACHE.pop(key, None)
