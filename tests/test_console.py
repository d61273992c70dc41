"""Interactive console (skinnerdb_spark/console.py) — the SkinnerCmd REPL
analogue (src/console/SkinnerCmd.java:298-344). Tests drive Console.handle
directly, the same seam the reference's processInput exposes."""

from __future__ import annotations

import inspect
import io
import re

import pytest

from skinnerdb_spark.console import Console
from skinnerdb_spark.engine import Engine


@pytest.fixture(scope="module")
def console(spark, sf_dir):
    return Console(Engine(spark, sf_dir=sf_dir))


def test_sql_roundtrip(console):
    out = console.handle("SELECT COUNT(*) AS n FROM region")
    assert "5" in out


def test_help_list_quit(console):
    # every command Console.handle dispatches is listed by `help`, read
    # from its `cmd == "..."` branches so a new command cannot go unlisted
    dispatched = re.findall(r'cmd == "(\w+)"', inspect.getsource(Console.handle))
    assert "bench" in dispatched and "ops" in dispatched
    listed = {ln.split()[0] for ln in console.handle("help").splitlines()}
    assert set(dispatched) <= listed, set(dispatched) - listed
    assert "lineitem" in console.handle("list")
    assert console.handle("quit") is None
    assert "region:" in console.handle("compress region")  # real rewrite + report


def test_explain(console):
    out = console.handle("explain SELECT r_name FROM region WHERE r_regionkey = 1")
    assert "Physical Plan" in out or "Scan" in out


def test_adaptive_toggle(console):
    assert "on" in console.handle("adaptive on")
    out = console.handle(
        "SELECT COUNT(*) AS n FROM supplier, nation, region "
        "WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey"
    )
    assert "[adaptive order:" in out
    assert "off" in console.handle("adaptive off")


def test_index_and_errors_survive(console):
    assert "region" in console.handle("index region")
    # REPL loop catches bad SQL rather than dying
    buf_in, buf_out = io.StringIO("SELECT broken syntax;;\nquit\n"), io.StringIO()
    console.run(stdin=buf_in, stdout=buf_out)
    assert "error:" in buf_out.getvalue()


def test_exec_file(console, tmp_path):
    f = tmp_path / "script.sql"
    f.write_text("SELECT 1 AS one; SELECT COUNT(*) AS n FROM nation;")
    out = console.handle(f"exec {f}")
    assert "one" in out and "25" in out


def test_load_csv(console, tmp_path):
    f = tmp_path / "t.csv"
    f.write_text("a,b\n1,x\n2,y\n")
    assert "2 columns" in console.handle(f"load mycsv {f}")
    assert "2" in console.handle("SELECT COUNT(*) AS n FROM mycsv")


def test_explain_adaptive(console):
    out = console.handle(
        "explain adaptive SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
        "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
    )
    assert "chosen order:" in out and ("episodes" in out or "single connected" in out)
    out2 = console.handle("explain adaptive SELECT COUNT(*) AS n FROM region")
    assert "not adaptive" in out2


def test_compress_rewrites_and_repoints(console, spark):
    """`compress <tbl>` rewrites the table as dictionary+zstd parquet,
    re-points the session view, and query results are unchanged
    (Compressor.java parity: compressed data, same answers)."""
    before = spark.sql("SELECT COUNT(*) AS n, MIN(n_name) AS m FROM nation").collect()
    out = console.handle("compress nation")
    assert "nation:" in out and "bytes" in out
    after = spark.sql("SELECT COUNT(*) AS n, MIN(n_name) AS m FROM nation").collect()
    assert after == before
    import os
    assert os.path.isdir(os.path.join("spark-warehouse", "compressed", "nation"))


def test_explain_adaptive_dot(console):
    out = console.handle(
        "explain adaptive dot SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
        "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
    )
    assert out.startswith("digraph uct {")


def test_explain_adaptive_dot_every_writes_snapshots(console):
    """`explain adaptive dot every N <sql>` — TreePlotter evolution parity
    (SkinnerCmd.java:246-289 re-plots every plotAtEach samples): one DOT
    file per N episodes plus the final tree, each a valid digraph, each
    later snapshot covering at least the episodes of the previous one."""
    import os

    out = console.handle(
        "explain adaptive dot every 1 SELECT COUNT(*) AS n "
        "FROM lineitem, orders, supplier "
        "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
    )
    assert out.startswith("wrote ")
    paths = out.splitlines()[1:]
    assert paths, out
    sizes = []
    for p in paths:
        assert os.path.isfile(p), p
        dot = open(p).read()
        assert dot.startswith("digraph uct {") and dot.rstrip().endswith("}")
        sizes.append(dot.count("->"))
    # cumulative rendering: the explored tree can only grow
    assert sizes == sorted(sizes)

    # engine API: snapshots partition the episode log at the given stride
    eng = console.engine
    dots = eng.explain_adaptive_dot_snapshots(
        "SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
        "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey",
        every=2,
        episodes=4,
    )
    n_eps = len(eng.last_adaptive.episodes)
    assert len(dots) == max(0, n_eps - 1) // 2 + 1


def test_ops_command_registers_views(console):
    out = console.handle("ops text_langid")
    assert "1 operator views" in out and "op_text_langid" in out
    assert "500" in console.handle("SELECT COUNT(*) AS n FROM op_text_langid")


def test_profile_command(console):
    """`profile <tbl>` renders the one-scan per-column quality summary for
    any registered table (generic profile_frame, kinds inferred from
    dtypes — timestamps render as dates, doubles as 2-decimal strings)."""
    out = console.handle("profile orders")
    assert "o_orderkey" in out and "o_orderdate" in out
    assert "n_nulls" in out and "n_distinct" in out
    # the timestamp column's min renders as an ISO date, not a raw timestamp
    import re

    assert re.search(r"199\d-\d\d-\d\d", out)


def test_layout_command_rewrites_and_repoints(console, spark):
    """`layout zorder <tbl> <cols>` rewrites the table clustered on the
    Morton key and re-points the session view; queries keep answering
    identically off the re-laid-out copy."""
    before = console.handle("SELECT COUNT(*) AS n FROM lineitem")
    out = console.handle("layout zorder lineitem l_partkey l_suppkey")
    assert "zorder on l_partkey,l_suppkey" in out
    after = console.handle("SELECT COUNT(*) AS n FROM lineitem")
    assert before == after
    assert "usage:" in console.handle("layout zorder lineitem")
    with pytest.raises(ValueError, match="unknown column"):
        console.handle("layout range lineitem nope")


def test_analyze_command_reports_executed_metrics(console):
    out = console.handle(
        "analyze SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1"
    )
    assert "rows=5" in out and "shuffles=" in out and "spill=0B" in out


def test_vacuum_inventories_and_reclaims(console, spark, sf_dir):
    """`vacuum` lists persisted artifacts; `vacuum apply` reclaims the
    re-derivable rewrite copies but never a FRESH ANN index (fingerprint
    says it still matches its source)."""
    import os

    # ensure artifacts of both classes exist: a layout copy + a fresh index
    console.handle("layout range nation n_nationkey")
    from skinnerdb_spark.operators.ivf import sim_ivf_ann

    sim_ivf_ann(spark, sf_dir).collect()
    out = console.handle("vacuum")
    assert "rewrite-copy" in out and "ann-index" in out
    out2 = console.handle("vacuum apply")
    assert "REMOVED" in out2
    assert not os.path.isdir(os.path.join("spark-warehouse", "layout"))
    # the fresh index survived (stale=False -> not deletable)
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    assert os.path.isdir(os.path.join("spark-warehouse", f"ivf_index_{sf_name}"))
    # vacuum re-pointed the serving view at the canonical warehouse parquet
    # BEFORE deleting the copy, so the session keeps working with no manual
    # attach_warehouse() — the engine must not break itself (ADVICE r5)
    assert "25" in console.handle("SELECT COUNT(*) AS n FROM nation")


def test_vacuum_refuses_to_orphan_unrepointable_view(console, spark, sf_dir):
    """A rewrite copy serving a view that is NOT a warehouse table cannot be
    re-pointed, so `vacuum apply` must leave it on disk and say why."""
    import os

    # a layout copy of a non-warehouse temp view: deletable only by orphaning
    spark.table("nation").createOrReplaceTempView("nation_alias")
    console.engine.relayout_table("nation_alias", ["n_nationkey"], mode="range")
    rep = console.engine.vacuum(apply=True)
    row = next(r for r in rep if r["path"].endswith("layout"))
    assert row["removed"] is False and "nation_alias" in row.get("note", "")
    assert os.path.isdir(row["path"]), "artifact must survive while serving"
    # the view still works (files intact)
    assert spark.table("nation_alias").count() == 25
    # dropping the alias view clears the obstacle; vacuum then reclaims
    spark.catalog.dropTempView("nation_alias")
    rep2 = console.engine.vacuum(apply=True)
    row2 = next(r for r in rep2 if r["path"].endswith("layout"))
    assert row2["removed"] is True and not os.path.isdir(row2["path"])


def test_analyze_dot_renders_executed_profile(console):
    """`analyze dot <sql>` emits a graphviz profile of the EXECUTED plan:
    operator nodes carry real output-row metrics (the scan saw 25 nation
    rows), edges flow data-upward."""
    out = console.handle(
        "analyze dot SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY 1"
    )
    assert out.startswith("digraph plan {")
    assert "HashAggregate" in out and "->" in out
    assert "rows=25" in out  # the scan's executed output-row metric


def test_vacuum_repoints_cached_views(console, spark, sf_dir):
    """A view that was compressed AND cached ('index') reports no
    inputFiles (InMemoryRelation) — vacuum must still detect it via plan
    leaves, drop + rebuild the cache, and leave the session working."""
    console.handle("compress region")
    console.handle("index region")
    console.engine.vacuum(apply=True)
    assert "5" in console.handle("SELECT COUNT(*) AS n FROM region")
    assert spark.catalog.isCached("region"), "the index intent must survive"
    spark.catalog.uncacheTable("region")


def test_skew_command(console):
    out = console.handle("skew events user_id 5")
    assert "share_ppm" in out and "hot_x100" in out
    assert "no salting needed" in out or "recommend n_salts=" in out
    assert console.handle("skew events") == "usage: skew <tbl> <col> [topk]"


def test_engine_parameterized_sql(console):
    """Spark-4 parameterized SQL through Engine.sql: named (:name) and
    positional (?) markers bind as literals at parse time (injection-safe)."""
    eng = console.engine
    named = eng.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > :lo AND o_totalprice < :hi",
        args={"lo": 1000.0, "hi": 200000.0},
    ).collect()[0].n
    positional = eng.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > ? AND o_totalprice < ?",
        args=[1000.0, 200000.0],
    ).collect()[0].n
    literal = eng.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > 1000.0 AND o_totalprice < 200000.0"
    ).collect()[0].n
    assert named == positional == literal > 0
    # a malicious "value" stays a literal, not SQL
    evil = eng.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = :s",
        args={"s": "F' OR '1'='1"},
    ).collect()[0].n
    assert evil == 0


def test_engine_parameterized_identifiers(console):
    """IDENTIFIER(:name) through Engine.sql (r9): table/column NAMES bind
    as parameters too — the DDL-safe complement of value parameters (a
    user-supplied table name can never smuggle SQL; it either resolves as
    one identifier or fails to resolve)."""
    import pytest as _pt
    from pyspark.errors import AnalysisException

    eng = console.engine
    n = eng.sql(
        "SELECT COUNT(*) AS n FROM IDENTIFIER(:tbl)", args={"tbl": "orders"}
    ).collect()[0].n
    assert n == eng.sql("SELECT COUNT(*) AS n FROM orders").collect()[0].n > 0
    # column names parameterize the same way
    c = eng.sql(
        "SELECT MAX(IDENTIFIER(:col)) AS m FROM orders", args={"col": "o_orderkey"}
    ).collect()[0].m
    assert c > 0
    # a malicious "name" is one (unresolvable) identifier, never executed SQL
    with _pt.raises(AnalysisException):
        eng.sql(
            "SELECT COUNT(*) AS n FROM IDENTIFIER(:tbl)",
            args={"tbl": "orders; DROP TABLE orders"},
        ).collect()
