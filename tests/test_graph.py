"""Join-graph extraction + adaptive reordering (plans/graph.py).

The reference derives its join graph from any parsed query
(src/query/QueryInfo.java:336-363) — these tests assert our Catalyst-plan
extraction recovers the same graph a human would write by hand, reorders
without changing results, and refuses every shape where reordering is not
provably safe.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skinnerdb_spark.catalog import register_views
from skinnerdb_spark.plans.graph import (
    ExtractionError,
    adaptive_reorder,
    extract_query_graph,
)
from skinnerdb_spark.queries.util import read_table, ts


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    register_views(spark, sf_dir)


def test_extracted_edges_match_handwritten_star(spark, sf_dir):
    """The graph extracted from adaptive_star_join's join chain recovers
    the three equi-join edges a human would write by hand."""
    dfs = {
        "lineitem": read_table(spark, sf_dir, "lineitem"),
        "orders": read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderdate") >= ts("1996-01-01")
        ),
        "supplier": read_table(spark, sf_dir, "supplier"),
        "nation": read_table(spark, sf_dir, "nation"),
    }
    df = (
        dfs["lineitem"]
        .join(dfs["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dfs["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(dfs["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
    )
    graph = extract_query_graph(df)
    hand = {
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
    }
    got = {
        (e.left_table, e.left_col, e.right_table, e.right_col) for e in graph.edges
    }
    assert got == hand
    assert set(graph.names) == {"lineitem", "orders", "supplier", "nation"}
    # local predicate (the orders date filter) pushed into the leaf, not lost
    assert "1996" in graph.leaves["orders"]._jdf.queryExecution().analyzed().toString()
    # fact = biggest estimated input
    assert graph.fact == "lineitem"


def test_est_rows_footer_exact_not_bytes_guess(spark, sf_dir):
    """ADVICE r8: the row estimate that sizes the episode sample must be
    an actual row count (parquet footers / CBO), not sizeInBytes//100 —
    the byte guess overshoots wide-row tables (documents: multi-KB text
    rows) by 10-100x and shrinks the sample by as much."""
    dfs = {
        "documents": read_table(spark, sf_dir, "documents"),
        "lineitem": read_table(spark, sf_dir, "lineitem"),
        "orders": read_table(spark, sf_dir, "orders"),
    }
    df = (
        dfs["lineitem"]
        .join(dfs["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dfs["documents"], F.col("l_orderkey") == F.col("doc_id"))
    )
    g = extract_query_graph(df)
    for name, ldf in dfs.items():
        true_n = ldf.count()
        est = g.est_rows(name)
        # footer-backed: exact for an unfiltered scan (vs the byte guess,
        # which for documents at sf0.001 lands ~10x over)
        assert est == true_n, (name, est, true_n)
        byte_guess = max(
            1,
            int(ldf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) // 100,
        )
        if name == "documents":
            # the byte guess lands wide of the mark even at this tiny SF
            # (and 10-100x wide at real SFs, where text compresses worse);
            # the footer path must not inherit that error
            assert byte_guess != true_n, (
                f"byte guess coincidentally exact ({byte_guess}); pick a "
                "different demonstration table"
            )
        # cached on the graph after first call
        assert g.row_counts[name] == est


def test_sql_text_reorder_identical(spark):
    q = """SELECT n_name, COUNT(*) AS c
           FROM lineitem, orders, supplier, nation
           WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
             AND s_nationkey = n_nationkey
             AND o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
           GROUP BY n_name"""
    base = spark.sql(q)
    res = adaptive_reorder(spark.sql(q), episodes=2, max_orders=6)
    assert len(res.best_order) == 4
    assert res.df.columns == base.columns
    assert res.df.exceptAll(base).count() == 0
    assert base.exceptAll(res.df).count() == 0


def test_theta_conjunct_preserved(spark):
    q = """SELECT s_name, COUNT(*) AS n
           FROM lineitem, supplier, orders
           WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
             AND l_extendedprice > o_totalprice * 0.5
           GROUP BY s_name"""
    base, res = spark.sql(q), adaptive_reorder(spark.sql(q), episodes=2)
    assert res.best_order  # eligible
    assert res.df.exceptAll(base).count() == 0
    assert base.exceptAll(res.df).count() == 0


def test_self_join_disambiguated(spark):
    q = """SELECT COUNT(*) AS c
           FROM lineitem a, lineitem b, orders
           WHERE a.l_orderkey = b.l_orderkey AND a.l_orderkey = o_orderkey
             AND a.l_linenumber < b.l_linenumber"""
    res = adaptive_reorder(spark.sql(q), episodes=2)
    assert sorted(res.best_order) == ["a", "b", "orders"] or res.best_order
    assert res.df.collect() == spark.sql(q).collect()


def test_no_parents_pins_column_order(spark):
    q = """SELECT * FROM supplier, nation, region
           WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey"""
    base, res = spark.sql(q), adaptive_reorder(spark.sql(q), episodes=2)
    assert res.df.columns == base.columns
    assert res.df.exceptAll(base).count() == 0


@pytest.mark.parametrize(
    "q,reason_part",
    [
        ("SELECT COUNT(*) AS c FROM lineitem, orders WHERE l_orderkey = o_orderkey", "2 join inputs"),
        (
            "SELECT COUNT(*) AS c FROM orders LEFT JOIN customer ON o_custkey = c_custkey "
            "LEFT JOIN nation ON c_nationkey = n_nationkey",
            "non-inner",
        ),
        (
            "SELECT o_orderpriority, COUNT(*) AS c FROM orders, lineitem, customer "
            "WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey "
            "AND l_quantity > (SELECT AVG(l_quantity) FROM lineitem) GROUP BY o_orderpriority",
            "subquery",
        ),
        (
            # disconnected: events has no equi edge to the tpch tables
            "SELECT COUNT(*) AS c FROM supplier, nation, events "
            "WHERE s_nationkey = n_nationkey AND s_suppkey > 0",
            "no",  # disconnected -> 'have no equi edge' (or cartesian refusal)
        ),
        (
            # rand() placement is semantics: repositioning changes which rows
            # it filters (Catalyst's PushDownPredicates refuses these too)
            "SELECT COUNT(*) AS c FROM supplier, nation, region "
            "WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
            "AND rand() < 1.1",
            "non-deterministic",
        ),
    ],
)
def test_ineligible_shapes_fall_back(spark, q, reason_part):
    df = spark.sql(q)
    with pytest.raises(ExtractionError, match=reason_part):
        extract_query_graph(df)
    res = adaptive_reorder(df)
    assert res.best_order == ()
    assert res.df is df  # unchanged plan


def test_nondeterministic_fallback_matches_catalyst(spark):
    """A query with a rand() conjunct declines adaptivity and runs through
    Catalyst unchanged — with a tautological bound the result is stable, so
    fallback-equals-Catalyst is directly assertable."""
    q = ("SELECT COUNT(*) AS c FROM supplier, nation, region "
         "WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
         "AND rand() < 1.1")
    res = adaptive_reorder(spark.sql(q), episodes=2)
    assert res.best_order == ()
    assert "non-deterministic" in res.reason
    assert res.df.collect() == spark.sql(q).collect()


def test_order_cache_not_shared_across_warehouses(spark, sf_dir):
    """Same table names, different warehouse directories -> different cache
    keys: an order learned on one warehouse is not served on another
    (learned orders must not leak across data scales)."""
    from skinnerdb_spark.plans import graph as G

    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey")
    g1 = extract_query_graph(spark.sql(q))
    learned = adaptive_reorder(spark.sql(q), episodes=2)
    assert learned.best_order and G._ORDER_CACHE[g1.cache_key] == learned.best_order
    register_views(spark, "/root/testdata/sf0.01")
    try:
        g2 = extract_query_graph(spark.sql(q))
        G._ORDER_CACHE.pop(g2.cache_key, None)
        other = adaptive_reorder(spark.sql(q), episodes=2)
    finally:
        register_views(spark, sf_dir)  # restore module-fixture views
    assert g1.cache_key != g2.cache_key
    assert other.best_order and other.reason != "cached"
    assert other.episodes  # scored on this warehouse


def test_order_cache_hit(spark):
    q = """SELECT COUNT(*) AS c FROM customer, orders, nation
           WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey
             AND o_totalprice > 1234.5"""
    # earlier tests may already have learned this shape (same tables and
    # edges, other filter constants)
    from skinnerdb_spark.plans import graph as G

    g = extract_query_graph(spark.sql(q))
    G._ORDER_CACHE.pop(g.cache_key, None)
    r1 = adaptive_reorder(spark.sql(q), episodes=2)
    # learned by scoring (predetermined: the two seeds share one bound-set
    # sequence), not served from a cache
    assert r1.episodes and all(e.predetermined for e in r1.episodes)
    r2 = adaptive_reorder(spark.sql(q), episodes=2)
    assert r2.reason == "cached"
    assert not r2.episodes
    assert r2.best_order == r1.best_order


def test_learned_orders_stay_in_process(spark):
    """Learned orders live in this process only: a cold adaptive_reorder
    learns and caches its order, but writes no
    spark-warehouse/joinorder_cache.json and creates no file in the
    checkout's root or its spark-warehouse directory."""
    import os

    from skinnerdb_spark.plans import graph as G

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    warehouse = os.path.join(root, "spark-warehouse")
    path = os.path.join(warehouse, "joinorder_cache.json")

    def snapshot():
        listing = [sorted(os.listdir(d)) if os.path.isdir(d) else None
                   for d in (root, warehouse)]
        st = os.stat(path) if os.path.exists(path) else None
        return listing, st and (st.st_size, st.st_mtime_ns)

    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey "
         "AND o_totalprice > 557.0")
    g = extract_query_graph(spark.sql(q))
    G._ORDER_CACHE.pop(g.cache_key, None)
    before = snapshot()
    res = adaptive_reorder(spark.sql(q), episodes=2)
    assert res.episodes and G._ORDER_CACHE[g.cache_key] == res.best_order
    assert snapshot() == before


def test_broadcast_hint_survives_reorder(spark):
    """Leaf-level broadcast hints ride along into the reordered plan."""
    l = spark.table("lineitem")
    p = spark.table("part").filter(F.col("p_size") > 10)
    s = spark.table("supplier")
    df = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .agg(F.min("p_name").alias("m"), F.count(F.lit(1)).alias("n"))
    )
    res = adaptive_reorder(df, episodes=2)
    assert res.best_order
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert res.df.collect() == df.collect()


def test_bench_dir_runs_corpus_sample(spark, sf_dir, tmp_path):
    """Engine.bench_dir executes committed corpus files with full per-query
    stats (BenchUtil.java:66-79 parity columns) through the adaptive path."""
    import glob
    import os
    import shutil

    from skinnerdb_spark.engine import Engine

    corpus = os.path.join(os.path.dirname(__file__), "..", "queries_sql")
    picks = sorted(glob.glob(os.path.join(corpus, "*.sql")))[::40][:3]
    assert picks, "committed corpus missing"
    for p in picks:
        shutil.copy(p, tmp_path)
    eng = Engine(spark, sf_dir=sf_dir)
    res = eng.bench_dir(str(tmp_path), adaptive=True, episodes=2)
    assert len(res) == len(picks)
    for r in res:
        assert r["rows"] >= 0 and r["millis"] >= 0
        for key in ("shuffle_count", "shuffle_write_bytes", "spill_bytes",
                    "peak_mem_bytes", "join_order"):
            assert key in r
    # at least one corpus query is eligible and got a learned order
    assert any(r["join_order"] for r in res)


# --------------------------------------------------------------------------
# fuzz: adaptive reordering must be result-identical to Catalyst for random
# connected join queries over the warehouse graph
# --------------------------------------------------------------------------
_WAREHOUSE_EDGES = {
    ("lineitem", "orders"): "l_orderkey = o_orderkey",
    ("lineitem", "part"): "l_partkey = p_partkey",
    ("lineitem", "supplier"): "l_suppkey = s_suppkey",
    ("orders", "customer"): "o_custkey = c_custkey",
    ("customer", "nation"): "c_nationkey = n_nationkey",
    ("nation", "region"): "n_regionkey = r_regionkey",
}

_LOCAL_PREDS = [
    "l_quantity BETWEEN 5 AND 45",
    "l_discount < 0.08",
    "o_totalprice > 1000",
    "o_orderstatus <> 'P'",
    "p_size BETWEEN 5 AND 45",
    "p_name LIKE '%a%'",
    "s_acctbal > -500",
    "c_acctbal > 0",
    "n_nationkey < 20",
    "r_regionkey >= 0",
]

_TABLE_PREFIX = {
    "lineitem": "l_", "orders": "o_", "part": "p_", "supplier": "s_",
    "customer": "c_", "nation": "n_", "region": "r_",
}


def _gen_join_query(seed: int) -> str:
    import random

    rng = random.Random(seed)
    tables = ["lineitem"]
    conds = []
    while len(tables) < rng.randint(3, 5):
        cands = [
            (pair, cond)
            for pair, cond in _WAREHOUSE_EDGES.items()
            if (pair[0] in tables) != (pair[1] in tables)
        ]
        pair, cond = rng.choice(cands)
        tables.append(pair[0] if pair[1] in tables else pair[1])
        conds.append(cond)
    prefixes = {_TABLE_PREFIX[t] for t in tables}
    preds = [p for p in _LOCAL_PREDS if p[:2] in prefixes and rng.random() < 0.5]
    where = " AND ".join(conds + preds)
    return (
        f"SELECT COUNT(*) AS n, MIN(l_extendedprice) AS m "
        f"FROM {', '.join(tables)} WHERE {where}"
    )


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_adaptive_identical_to_catalyst(spark, seed):
    q = _gen_join_query(seed)
    base = spark.sql(q).collect()
    res = adaptive_reorder(spark.sql(q), episodes=2, use_cache=False)
    assert len(res.best_order) >= 3, f"{q} should be eligible"
    assert res.df.collect() == base, q


def _deep_corpus() -> list[str]:
    import glob
    import os

    corpus = os.path.join(os.path.dirname(__file__), "..", "queries_sql")
    return sorted(
        os.path.basename(p)
        for pat in ("t8_deep8_*.sql", "t9_deep10_*.sql", "t10_deep12_*.sql",
                    "t11_deep15_*.sql", "t12_deep17_*.sql")
        for p in glob.glob(os.path.join(corpus, pat))
    )


@pytest.mark.parametrize("fname", _deep_corpus())
def test_deep_corpus_adaptive_identical_to_catalyst(spark, fname):
    """JOB-depth coverage (reference: up-to-17-way joins,
    imdb/queries/29a.sql): every committed 8/10/12-leaf corpus query is
    bandit-eligible — self-joined dims disambiguated, the linenumber theta
    preserved as a post-bind conjunct — and collect()-identical to Catalyst."""
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "queries_sql", fname)
    with open(path) as f:
        q = f.read()
    base = spark.sql(q).collect()
    res = adaptive_reorder(spark.sql(q), episodes=2, max_orders=8, use_cache=False)
    n_leaves = int(fname.split("deep")[1].split("_")[0])
    assert len(res.best_order) == n_leaves, f"{fname} should be eligible"
    assert res.df.collect() == base, fname


def test_deep_corpus_has_twenty_plus_queries():
    assert len(_deep_corpus()) >= 20


def test_budgeted_episode_cancellation_and_learning(spark, sf_dir):
    """Budgeted episodes (r6 — the reference's 500-step episode budget,
    JoinConfig.java:22, in Spark idiom): an episode exceeding the wall-clock
    budget is cancelled via job-group interruption, recorded as timed_out
    (ranked last), and the session stays fully usable; the final
    execution is never budgeted, so results are exact either way."""
    import time

    from pyspark.sql import functions as F

    from skinnerdb_spark.catalog import read_table
    from skinnerdb_spark.plans.joinorder import budgeted_count

    # a query slow enough to overrun a 0.3 s budget deterministically
    slow = (
        spark.range(0, 3000)
        .crossJoin(spark.range(0, 3000).select(F.col("id").alias("j")))
        .select(F.sha2(F.concat_ws("-", "id", "j"), 256).alias("h"))
        .filter(F.col("h").contains("deadbeefcafe"))
    )
    t0 = time.monotonic()
    n, dt, joins = budgeted_count(slow, budget_s=0.3)
    assert n is None, "overrunning episode must be cancelled"
    assert joins == ()
    assert dt >= 0.3
    assert time.monotonic() - t0 < 35, "cancellation must not hang"
    # the session survives the cancellation
    assert spark.range(10).count() == 10
    # unbudgeted path unchanged
    n2, _, _ = budgeted_count(spark.range(100), budget_s=None)
    assert n2 == 100

    # end-to-end: a tiny budget times out every episode, yet the winning
    # order still executes in full and matches Catalyst
    from skinnerdb_spark.plans import graph

    df = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
        "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
    )
    res = graph.adaptive_reorder(
        spark.sql(
            "SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
            "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
        ),
        episodes=2,
        episode_budget_s=0.001,
        use_cache=False,
    )
    assert res.episodes and all(e.timed_out for e in res.episodes), res.episodes
    assert all(e.rows == -1 for e in res.episodes)
    expect = df.collect()
    assert res.df.collect() == expect, "final execution must be exact"


def test_adaptive_reorder_shares_measurements_across_orders(spark):
    """(a,f,b) and (f,a,b) bind the same table sets in the same sequence, so
    the second is scored from the first's measurement: exact join rows on
    an unsampled fact side, two sampled executions for four candidates, the
    lowest C_out wins, the result matches Catalyst's, and the winner's plan
    holds no cached episode frame."""
    views = {
        "fct": spark.range(80).selectExpr("id AS fid", "id % 4 AS ja", "id % 6 AS jb"),
        "da": spark.range(4).selectExpr("id AS ja2", "id AS av"),
        "db": spark.range(6).selectExpr("id AS jb2", "id AS bv"),
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    q = "SELECT fid, av, bv FROM fct, da, db WHERE ja = ja2 AND jb = jb2"
    try:
        res = adaptive_reorder(spark.sql(q), episodes=6, use_cache=False)
        by_order = {e.order: e for e in res.episodes}
        assert by_order[("fct", "da", "db")].memo
        assert by_order[("fct", "da", "db")].joins == by_order[("da", "fct", "db")].joins
        assert by_order[("da", "fct", "db")].joins == (80, 80)
        assert len(res.episodes) == 4 and sum(e.measured for e in res.episodes) == 2
        assert min(res.episodes, key=lambda e: e.cout).order == res.best_order
        assert sorted(res.df.collect()) == sorted(spark.sql(q).collect())
        assert "InMemoryTableScan" not in res.df._jdf.queryExecution().executedPlan().toString()
    finally:
        for name in views:
            spark.catalog.dropTempView(name)


def test_build_graph_chain_rejects_cartesian(spark):
    """An order that joins a table sharing no edge with the bound prefix (a
    cartesian step) is refused."""
    from skinnerdb_spark.plans.graph import build_graph_chain

    g = extract_query_graph(spark.sql(
        "SELECT COUNT(*) AS c FROM customer, orders, nation "
        "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey"
    ))
    with pytest.raises(ValueError, match="no bound edge"):
        build_graph_chain(g, ("orders", "nation", "customer"))


def _count_episodes(monkeypatch, G):
    """Route graph's sampled executions through a recorder; returns the
    list of budgets, one entry per sampled execution."""
    real = G._budgeted_count
    calls = []

    def counting(df, budget_s=None):
        calls.append(budget_s)
        return real(df, budget_s)

    monkeypatch.setattr(G, "_budgeted_count", counting)
    return calls


def test_adaptive_reorder_swapped_first_pair_runs_no_episode(spark, monkeypatch):
    """The two greedy seeds of this query differ only by swapping the first
    two tables: the same bound sets in the same sequence, hence the same
    C_out, and ties go to the first candidate. The winner is fixed before
    any sample runs, so no sampled execution runs and both candidates carry
    the "not measured" marker."""
    from skinnerdb_spark.plans import graph as G

    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey "
         "AND o_totalprice > 555.0")
    g = G.extract_query_graph(spark.sql(q))
    G._ORDER_CACHE.pop(g.cache_key, None)
    calls = _count_episodes(monkeypatch, G)
    before = G.adaptive_counters()["episodes"]
    res = G.adaptive_reorder(spark.sql(q), episodes=2, episode_budget_s=30.0)
    first, second = res.episodes
    assert second.order[:2] == first.order[1::-1] and second.order[2:] == first.order[2:]
    assert calls == []
    assert G.adaptive_counters()["episodes"] == before
    for e in res.episodes:
        assert e.predetermined and not e.measured and not e.memo
        assert e.joins == () and e.seconds == 0.0 and e.cout is None
    assert res.best_order == first.order
    assert G._ORDER_CACHE[g.cache_key] == first.order  # learned, and cached
    assert res.df.collect() == spark.sql(q).collect()


def test_adaptive_reorder_measures_each_sequence_once(spark, monkeypatch):
    """Three candidates over two distinct bound-set sequences: each sequence
    runs one sampled execution, the candidate that repeats a sequence is
    scored from the memo, and the lowest C_out wins."""
    from skinnerdb_spark.plans import graph as G

    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey "
         "AND o_totalprice > 556.0")
    calls = _count_episodes(monkeypatch, G)
    before = G.adaptive_counters()["episodes"]
    res = G.adaptive_reorder(spark.sql(q), episodes=3, use_cache=False)
    seqs = [tuple(frozenset(e.order[:i]) for i in (2, 3)) for e in res.episodes]
    assert len(res.episodes) == 3 and len(set(seqs)) == 2
    assert len(calls) == 2
    assert G.adaptive_counters()["episodes"] == before + 2
    assert [e.measured for e in res.episodes].count(True) == 2
    assert not any(e.predetermined for e in res.episodes)
    for e, seq in zip(res.episodes, seqs):
        twin = next(m for m, s in zip(res.episodes, seqs) if s == seq)
        assert e.joins == twin.joins and len(e.joins) == 2
        assert e.memo == (e is not twin)
    assert res.best_order == min(res.episodes, key=lambda e: e.cout).order
    assert res.df.collect() == spark.sql(q).collect()


def test_score_orders_runs_a_job_only_when_it_can_change_the_winner():
    """Unit level: one candidate, or candidates that all share one
    bound-set sequence, run no count; otherwise each distinct sequence is
    counted exactly once."""
    from skinnerdb_spark.plans.joinorder import score_orders

    counted = []

    def count(order, budget_s):
        counted.append(order)
        return 1, 0.01, (len(order) * 10, 7 if order[0] == "c" else 3)

    build = lambda o: o  # noqa: E731 — the fake count receives the order
    for cands, episodes in (
        ([("a", "b", "c")], 4),
        ([("a", "b", "c"), ("b", "a", "c"), ("c", "b", "a")], 2),
    ):
        best, stats = score_orders(cands, build, episodes, count=count)
        assert counted == [] and best == cands[0]
        assert [e.order for e in stats] == cands[:episodes]
        assert all(e.predetermined and e.rows == -1 for e in stats)

    cands = [("a", "b", "c"), ("b", "a", "c"), ("c", "b", "a")]
    best, stats = score_orders(cands, build, 3, count=count)
    assert counted == [("a", "b", "c"), ("c", "b", "a")]
    assert [e.measured for e in stats] == [True, False, True] and stats[1].memo
    assert best == ("a", "b", "c") and [e.cout for e in stats] == [33, 33, 37]
    assert score_orders(cands, build, 0, count=count) == (cands[0], [])


def test_empty_sample_arm_reports_every_join(spark):
    """An arm whose sampled result is empty still reads the output rows of
    every join. Left alone, AQE's empty-relation propagation would replace
    the joins above an empty stage with an EmptyRelation and leave no join
    metric to read; the rule is excluded only while the episode runs."""
    from skinnerdb_spark.plans import graph as G

    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation, region "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey "
         "AND n_regionkey = r_regionkey AND r_name = 'NOWHERE'")
    conf_key = "spark.sql.adaptive.optimizer.excludedRules"
    before = spark.conf.get(conf_key, None)
    res = G.adaptive_reorder(spark.sql(q), episodes=3, use_cache=False)
    assert res.episodes
    for e in res.episodes:
        assert not e.timed_out and e.rows == 0
        assert len(e.joins) == 3, e
    assert spark.conf.get(conf_key, None) == before
    assert res.df.collect()[0]["c"] == 0


def test_empty_sample_arm_reports_every_join_without_codegen(spark):
    """With whole-stage codegen off, the interpreted hash join returns
    before reading its stream side once its build side is empty, and every
    join below it reads 0 output rows. Episodes pin codegen on, so the
    sampled C_out is the same with the session's codegen on or off."""
    from skinnerdb_spark.plans import graph as G

    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation, region "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey "
         "AND n_regionkey = r_regionkey AND r_name = 'NOWHERE'")
    on = G.adaptive_reorder(spark.sql(q), episodes=3, use_cache=False)
    assert any(e.measured and e.cout > 0 for e in on.episodes), on.episodes
    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        off = G.adaptive_reorder(spark.sql(q), episodes=3, use_cache=False)
        assert spark.conf.get(key) == "false"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert [(e.order, e.joins) for e in off.episodes] == [
        (e.order, e.joins) for e in on.episodes
    ]
    assert off.best_order == on.best_order


def _corpus_sql(name: str) -> str:
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "queries_sql", name + ".sql")
    with open(path) as f:
        return f.read().strip().rstrip(";")


def _broadcast_subtrees(df) -> list[str]:
    """treeString of every BroadcastExchange in df's physical plan."""
    from skinnerdb_spark.plans.metrics import _iter_nodes

    return [
        n.treeString()
        for n in _iter_nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName() == "BroadcastExchange"
    ]


def test_learned_order_streams_its_largest_input(spark):
    """A dimension-first learned order hints its accumulated side for
    broadcast before the fact table joins, so lineitem streams: no
    BroadcastExchange is built over the lineitem scan. Without the hint,
    Catalyst's product estimate of the accumulated side makes lineitem the
    smaller input, and it is the one broadcast."""
    from skinnerdb_spark.plans import graph as G

    q = _corpus_sql("t8_deep8_02")
    res = G.adaptive_reorder(spark.sql(q), episodes=2, sample_rows=8000, use_cache=False)
    assert res.best_order[0] != "l" and "l" in res.best_order, res.best_order
    assert "strategy=broadcast" in res.df._jdf.queryExecution().analyzed().toString()
    lineitem_scan = "FileScan parquet [l_"
    assert not any(lineitem_scan in t for t in _broadcast_subtrees(res.df))
    g = G.extract_query_graph(spark.sql(q))
    unhinted = G.finish(g, G.build_graph_chain(g, res.best_order, leaves=g.leaves))
    assert any(lineitem_scan in t for t in _broadcast_subtrees(unhinted))
    assert res.df.collect() == spark.sql(q).collect()


def test_no_stream_hint_when_broadcast_is_disabled(spark):
    """autoBroadcastJoinThreshold=-1 turns broadcasts off, and the learned
    chain then carries no broadcast hint either."""
    from skinnerdb_spark.plans import graph as G

    q = _corpus_sql("t8_deep8_02")
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        res = G.adaptive_reorder(spark.sql(q), episodes=2, sample_rows=8000, use_cache=False)
        assert res.best_order[0] != "l", res.best_order
        assert "strategy=broadcast" not in res.df._jdf.queryExecution().analyzed().toString()
        assert not _broadcast_subtrees(res.df)
        assert res.df.collect() == spark.sql(q).collect()
    finally:
        spark.conf.set(key, before)


def test_explain_shows_predetermined_decision(spark, sf_dir):
    """explain_adaptive and its DOT export name a decision that needed no
    sampled execution as such, not as a single connected order."""
    from skinnerdb_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
         "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey")
    note = "2 candidates, one bound-set sequence: no sampled execution"
    text = eng.explain_adaptive(q, episodes=2)
    assert note in text and "single connected" not in text
    assert all(e.predetermined for e in eng.last_adaptive.episodes)
    dot = eng.explain_adaptive_dot(q, episodes=2)
    assert note in dot and "single connected" not in dot
    assert dot.startswith("digraph uct {") and dot.rstrip().endswith("}")


_DETERMINISM_SCRIPT = r"""
import json, os, sys
from skinnerdb_spark.catalog import register_views
from skinnerdb_spark.plans.graph import adaptive_reorder
from skinnerdb_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
register_views(spark, sys.argv[1])
out = {}
for name in sys.argv[2:]:
    with open(os.path.join("queries_sql", name + ".sql")) as f:
        text = f.read().strip().rstrip(";")
    res = adaptive_reorder(spark.sql(text), episodes=3, sample_rows=2000, use_cache=False)
    out[name] = [list(res.best_order),
                 [[list(e.order), list(e.joins), e.timed_out] for e in res.episodes]]
spark.stop()
print("RESULT " + json.dumps(out))
"""


@pytest.mark.slow
def test_learned_orders_repeat_across_processes(sf_dir):
    """Sampled C_out is a property of the seeded sample, not of timing or
    play order: three fresh processes learn the same order and the same
    per-join cardinalities for a 4-, 8- and 12-table corpus shape."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = ["t2_chain_05", "t8_deep8_05", "t10_deep12_08"]
    runs = []
    for _ in range(3):
        proc = subprocess.run(
            [sys.executable, "-c", _DETERMINISM_SCRIPT, sf_dir, *names],
            cwd=root, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
        runs.append(json.loads(line[len("RESULT "):]))
    assert runs[0] == runs[1] == runs[2]
    for name in names:
        best, episodes = runs[0][name]
        assert best and episodes
        assert all(len(joins) == len(best) - 1 and not timed_out
                   for _, joins, timed_out in episodes), episodes


_RESTART_SCRIPT = r"""
import sys
from skinnerdb_spark import state
from skinnerdb_spark.catalog import register_views
from skinnerdb_spark.plans import graph as G
from skinnerdb_spark.registry import all_specs
from skinnerdb_spark.session import get_spark

sf_dir = sys.argv[1]
specs = all_specs()
q = ("SELECT COUNT(*) AS c FROM customer, orders, nation "
     "WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey")
entries = ["dedup_minhash_lsh", "rcte_order_chains"]
apps, results = [], []
for _ in range(2):
    spark = get_spark(master="local[1]", shuffle_partitions=1)
    apps.append(state.app_id(spark))
    # the first look at a new application drops every entry of the old one
    assert not state._MEMO and not state._CLASSES and state._CHILD is None
    register_views(spark, sf_dir)
    g = G.extract_query_graph(spark.sql(q))
    assert sorted(g.names) == ["customer", "nation", "orders"], g.names
    results.append({
        n: sorted(repr(r) for r in specs[n].spark(spark, sf_dir).collect())
        for n in entries
    })
    sc = spark.sparkContext
    assert state._CLASSES
    assert state._MEMO, state._MEMO
    assert all(df.sparkSession.sparkContext is sc for df in state._MEMO.values())
    assert state._CHILD is not None and state._CHILD.sparkContext is sc
    spark.stop()
assert apps[0] != apps[1], apps
assert results[0] == results[1]
assert all(results[0].values()), results[0]
print("OK")
"""


@pytest.mark.slow
def test_jvm_class_handles_follow_session_restart(sf_dir):
    """Per-application state follows a stop and restart in one process: the
    new application's first lookup drops the old one's memo entries, JVM
    class handles and child session; afterwards the state holds only the
    live application's, and extraction, dedup_minhash_lsh and
    rcte_order_chains return the same rows in both applications."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, sf_dir],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "OK" in proc.stdout, proc.stderr[-3000:]
