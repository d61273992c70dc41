"""The JVM side of the adaptive tier (plans/java/skinner/PlanHelper.java):
extraction reproduces the committed graph snapshot of the SQL corpus, and
an order-cache hit costs a bounded number of py4j round trips."""

from __future__ import annotations

import gc
import glob
import json
import os
import time

import pytest

from skinnerdb_spark.catalog import register_views
from skinnerdb_spark.plans import graph as G

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the graph of every queries_sql/ file, as the Python plan walker that the
#: JVM extractor replaced recovered it: names, edges (condition order),
#: post-condition table sets, hinted leaves and the order-cache key with
#: each scan scope cut to its file name — or the ineligibility reason
SNAPSHOT = os.path.join(ROOT, "tests", "data", "query_graphs.json")


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    register_views(spark, sf_dir)


def _sql(name: str) -> str:
    with open(os.path.join(ROOT, "queries_sql", name + ".sql")) as f:
        return f.read().strip().rstrip(";")


def _snapshot_entry(spark, text: str) -> dict:
    try:
        g = G.extract_query_graph(spark.sql(text))
    except G.ExtractionError as e:
        return {"reason": str(e)}
    names, scopes, edges = g.cache_key
    return {
        "reason": None,
        "names": g.names,
        "edges": [[e.left_table, e.left_col, e.right_table, e.right_col] for e in g.edges],
        "post": [sorted(need) for need in g.post_conds],
        "hinted": sorted(g.hinted),
        "cache_key": [list(names), [os.path.basename(s) for s in scopes], [list(e) for e in edges]],
    }


def test_extraction_reproduces_corpus_snapshot(spark):
    with open(SNAPSHOT) as f:
        expected = json.load(f)
    files = sorted(glob.glob(os.path.join(ROOT, "queries_sql", "*.sql")))
    assert len(files) == len(expected) == 172
    got = {}
    for path in files:
        name = os.path.basename(path)[:-4]
        got[name] = _snapshot_entry(spark, _sql(name))
    assert [n for n in expected if got[n] != expected[n]] == []


@pytest.fixture
def py4j_calls(monkeypatch):
    """Every py4j command sent while the test runs, counted the way
    perfbench/spans.py counts them: by wrapping ``send_command``."""
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    calls: list[str] = []
    for cls in (ClientServerConnection, GatewayConnection):
        orig = cls.send_command

        def send_command(conn, command, *a, _orig=orig, **kw):
            calls.append(command)
            return _orig(conn, command, *a, **kw)

        monkeypatch.setattr(cls, "send_command", send_command)
    return calls


def _drain_proxy_deletes(spark) -> None:
    """Collects garbage and waits until py4j's finalizer thread has sent
    the delete of every dead proxy, so a count window holds only the
    deletes of proxies made inside it."""
    gc.collect()
    pending = getattr(spark.sparkContext._gateway._gateway_client, "finalizer_deque", ())
    deadline = time.monotonic() + 10
    while pending and time.monotonic() < deadline:
        time.sleep(0.01)
    time.sleep(0.05)  # the delete taken off the queue last is sent


@pytest.mark.parametrize("name", ["t8_deep8_01", "t10_deep12_01"])
def test_cache_hit_round_trip_budget(spark, name, py4j_calls):
    """A learned order served from the cache costs at most 25 py4j round
    trips, counting the deletes of the proxies it leaves behind: the
    extraction, its summary and the rebuild are one call each. (The Python
    plan walker took 432-582 per corpus query.)"""
    text = _sql(name)
    learned = G.adaptive_reorder(spark.sql(text), episodes=2, sample_rows=2000)
    df = spark.sql(text)
    _drain_proxy_deletes(spark)
    py4j_calls.clear()
    res = G.adaptive_reorder(df)
    _drain_proxy_deletes(spark)
    n = len(py4j_calls)
    assert res.reason == "cached" and res.best_order == learned.best_order
    assert n <= 25, py4j_calls
    assert res.df.collect() == spark.sql(text).collect()


def test_executed_plan_reads_round_trip_budget(spark, sf_dir, py4j_calls):
    """Each read of an executed plan — the C_out reward (join_rows), a bench
    row's metrics and the DOT profile — costs at most 3 py4j round trips:
    the JVM walks the plan and returns one node table. (The Python walker
    took 1,632, 321 and 1,632 on this plan in the suite's session.)"""
    from skinnerdb_spark.plans.metrics import join_rows, plan_dot, plan_metrics, run_and_count
    from skinnerdb_spark.registry import all_specs

    df = all_specs()["tpch_q03"].spark(spark, sf_dir)
    run_and_count(df)
    counts = {}
    for read in (plan_metrics, join_rows, plan_dot):
        read(df)  # the helper is loaded outside the count window
        _drain_proxy_deletes(spark)
        py4j_calls.clear()
        out = read(df)
        _drain_proxy_deletes(spark)
        counts[read.__name__] = len(py4j_calls)
        assert out
    assert max(counts.values()) <= 3, counts
