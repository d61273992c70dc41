"""Engine facade — the user-visible surface a reference user would switch to.

Maps the reference console's commands (src/console/SkinnerCmd.java:298-344)
to Spark-native equivalents:

    SkinnerDB console                      Engine
    -----------------------------------   -------------------------------
    SELECT ... / DDL                       .sql(text) -> DataFrame
    load <table> <csv> <sep> <nullRep>     .load_csv(...)
    compress                               no-op (Parquet dictionary pages)
    index <col> / index all                .cache_table(name) (RAM columnar)
    bench <dir>                            bench.py harness
    explain <query>                        .explain(sql)

Queries pass through ``spark.sql`` — Catalyst performs every rewrite the
reference hand-rolls (SURVEY §4.1) plus the ones it lacks.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from skinnerdb_spark.artifacts import ARTIFACT_ROOT, du, file_fingerprint
from skinnerdb_spark.catalog import register_views
from skinnerdb_spark.session import get_spark
from skinnerdb_spark.sources.csv import load_csv
from skinnerdb_spark.state import plan_helper

#: cached_sql keeps at most this many results; the oldest are evicted
RESULT_CACHE_MAX = 64


class Engine:
    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        self.sf_dir: str | None = None
        if sf_dir:
            self.attach_warehouse(sf_dir)

    def attach_warehouse(self, sf_dir: str) -> None:
        """Register every warehouse table as a view (the reference's eager
        BufferManager.loadDB, minus the eagerness)."""
        self.sf_dir = sf_dir
        register_views(self.spark, sf_dir)

    def attach_operators(self, names: list[str] | None = None) -> list[str]:
        """Expose registry operators as SQL-addressable temp views: every
        entry's (lazy) DataFrame registers as ``op_<name>``, so the whole
        pipeline tier composes in plain SQL —

            SELECT g.doc_id FROM op_docs_curation_gate g
            JOIN op_text_langid l USING (doc_id)
            WHERE g.verdict = 'keep' AND l.lang_pred <> 'unknown'

        View creation is plan registration only (nothing executes until
        queried), and Catalyst optimizes ACROSS the view boundary — a
        composed query prunes columns and pushes filters into the underlying
        operator plans, which per-operator APIs can't do. Requires an
        attached warehouse. Returns the created view names."""
        from skinnerdb_spark.registry import all_specs

        if self.sf_dir is None:
            raise ValueError("attach_operators requires an attached warehouse")
        specs = all_specs()
        chosen = names if names is not None else sorted(specs)
        created = []
        for name in chosen:
            view = f"op_{name}"
            specs[name].spark(self.spark, self.sf_dir).createOrReplaceTempView(view)
            created.append(view)
        return created

    def compress_tables(self, names: list[str] | None = None) -> list[dict]:
        """Rewrite warehouse tables as dictionary+zstd parquet and re-point
        their views at the compressed copies — the Spark-native form of the
        reference's `compress` command (src/compression/Compressor.java:31-49
        dictionary-encodes string columns, persists the encoded data, and
        updates the catalog so subsequent queries scan compressed columns).
        Parquet dictionary pages ARE that string dictionary; zstd shrinks
        the rest. Returns per-table {table, bytes_before, bytes_after,
        ratio}; subsequent session queries read the compressed copies."""
        import os

        from skinnerdb_spark.catalog import TABLES, read_table, table_path

        if self.sf_dir is None:
            raise ValueError("compress requires an attached warehouse (attach_warehouse)")

        out_root = os.path.join(ARTIFACT_ROOT, "compressed")
        report = []
        for t in names or TABLES:
            src = table_path(self.sf_dir, t)
            dst = os.path.join(out_root, t)
            (
                read_table(self.spark, self.sf_dir, t)
                .write.mode("overwrite")
                .option("compression", "zstd")
                .option("parquet.enable.dictionary", "true")
                .parquet(dst)
            )
            self.spark.read.parquet(dst).createOrReplaceTempView(t)
            before, after = du(src), du(dst)
            report.append(
                {
                    "table": t,
                    "bytes_before": before,
                    "bytes_after": after,
                    "ratio": round(after / before, 4) if before else None,
                }
            )
        return report

    def vacuum(self, apply: bool = False) -> list[dict]:
        """Inventory (and with ``apply=True`` delete) the engine's persisted
        warehouse artifacts: compressed/layout table copies and UCT snapshot
        files (re-derivable — always deletable), ANN indexes (deletable only
        when STALE per their source fingerprint), and the result cache
        (self-evicting — reported, never vacuumed here). Returns
        [{path, kind, bytes, stale, removed}].

        The ops counterpart of the artifact lifecycle: fingerprints already
        prevent *serving* stale indexes; vacuum reclaims their disk.

        Deleting a rewrite copy that a temp view still resolves to would
        leave the session broken (every later query on that table fails on
        the missing files), so before rmtree any view serving the artifact
        is re-pointed at the canonical warehouse parquet; if no warehouse is
        attached to re-point to, the copy is left in place and the report
        row carries a ``note`` instead of ``removed``."""
        import os
        import shutil

        from skinnerdb_spark.operators import ivf, pq

        report: list[dict] = []
        if not os.path.isdir(ARTIFACT_ROOT):
            return report
        for name in sorted(os.listdir(ARTIFACT_ROOT)):
            path = os.path.join(ARTIFACT_ROOT, name)
            if not os.path.isdir(path):
                continue
            stale = None
            if name in ("compressed", "layout"):
                kind = "rewrite-copy"
                deletable = True
            elif name.startswith(("ivf_index_", "pq_index_")):
                kind = "ann-index"
                mod = ivf if name.startswith("ivf") else pq
                sf_name = name.split("index_", 1)[1]
                # index freshness is checked against the warehouse it was
                # built from; without an attached sf_dir of the same name we
                # can only report, not judge
                if self.sf_dir and os.path.basename(self.sf_dir.rstrip("/")) == sf_name:
                    stale = not mod.index_is_fresh(path, self.sf_dir)
                deletable = stale is True
            elif name == "uct_snapshots":
                kind = "uct-snapshots"  # `explain adaptive dot every N` rewrites them
                deletable = True
            elif name == "result_cache":
                kind = "result-cache (self-evicting)"
                deletable = False
            else:
                continue  # managed tables / unrelated dirs are not ours
            entry = {
                "path": path,
                "kind": kind,
                "bytes": du(path),
                "stale": stale,
                "removed": False,
            }
            if apply and deletable:
                if kind == "rewrite-copy":
                    unsafe = self._repoint_views_off(path)
                    if unsafe:
                        entry["note"] = (
                            f"still serving view(s) {unsafe}; "
                            "attach_warehouse() first to re-point them"
                        )
                        report.append(entry)
                        continue
                shutil.rmtree(path, ignore_errors=True)
                entry["removed"] = True
            report.append(entry)
        return report

    def _repoint_views_off(self, artifact_path: str) -> list[str]:
        """Re-point any temp view whose plan scans files under
        ``artifact_path`` back at the canonical warehouse parquet.
        Returns the names of views that could NOT be re-pointed (no
        attached warehouse, or the view is not a warehouse table) — the
        caller must not delete the artifact while those exist.

        A CACHED view reports no inputFiles() (its plan substitutes an
        InMemoryRelation), so detection also reads the root paths of the
        analyzed plan's relation leaves (``PlanHelper.scanPaths``);
        re-pointing such a view also drops and rebuilds its cache — a lazy,
        never-materialized cache would otherwise recompute from the deleted
        files on first use."""
        from skinnerdb_spark.catalog import TABLES, read_table

        def scan_paths(name: str) -> list[str]:
            try:
                return json.loads(plan_helper(self.spark).scanPaths(self.spark.table(name)._jdf))
            except Exception:
                return []

        unsafe: list[str] = []
        marker = artifact_path.rstrip("/") + "/"
        for tbl in self.spark.catalog.listTables():
            if not tbl.isTemporary:
                continue
            name = tbl.name
            if not any(marker in p or p.rstrip("/") + "/" == marker for p in scan_paths(name)):
                continue
            if self.sf_dir and name in TABLES:
                was_cached = False
                try:
                    was_cached = self.spark.catalog.isCached(name)
                    if was_cached:
                        self.spark.catalog.uncacheTable(name)
                except Exception:
                    pass
                read_table(self.spark, self.sf_dir, name).createOrReplaceTempView(name)
                if was_cached:
                    self.spark.table(name).cache()
            else:
                unsafe.append(name)
        return unsafe

    def relayout_table(self, name: str, cols: list[str], mode: str = "zorder") -> dict:
        """Rewrite a registered table with a pruning-friendly physical layout
        and re-point its view — `compress` for I/O-elision instead of bytes:
        ``mode='range'`` range-sorts on ``cols`` (tight file min/max on the
        leading column), ``mode='zorder'`` clusters on the Morton interleave
        (tight min/max on EVERY listed column; numeric columns only).
        Returns {table, mode, cols, n_files, path}; subsequent session
        queries scan the re-laid-out copy and prune files via footer stats."""
        import os

        from skinnerdb_spark.sources.layout import write_range_sorted, write_zorder

        if mode not in ("zorder", "range"):
            raise ValueError(f"unknown layout mode {mode!r} (zorder|range)")
        dst = os.path.join(ARTIFACT_ROOT, "layout", f"{name}_{mode}")
        df = self.table(name)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"unknown column(s) {missing} in table {name!r}")
        n_files = 32
        if mode == "zorder":
            write_zorder(df, dst, cols, n_files=n_files)
        else:
            write_range_sorted(df, dst, cols, n_files=n_files)
        self.spark.read.parquet(dst).createOrReplaceTempView(name)
        return {"table": name, "mode": mode, "cols": cols, "n_files": n_files, "path": dst}

    def sql(self, text: str, args: dict | list | None = None) -> DataFrame:
        """SQL passthrough, with Spark 4 parameterized queries: ``args``
        binds ``:name`` markers (dict) or ``?`` markers (list) as LITERALS
        at parse time — injection-safe templating for programmatic callers
        (a user-supplied threshold never string-concatenates into the
        query). Table/column NAMES parameterize through ``IDENTIFIER(:n)``
        (r9, pinned in tests/test_console.py): the bound string resolves
        as exactly one identifier or fails analysis — it can never smuggle
        SQL. The reference console interpolates raw strings
        (src/console/SkinnerCmd.java); these are the safe Spark-native
        forms.
        """
        return self.spark.sql(text, args=args) if args is not None else self.spark.sql(text)

    def adaptive_sql(self, text: str, **kw) -> DataFrame:
        """Run SQL through runtime-adaptive join ordering — the reference's
        headline feature (UCT ordering of any parsed query,
        src/query/QueryInfo.java:336-363 + src/joining/JoinProcessor.java).

        The query's join graph is extracted from Catalyst's analyzed plan;
        eligible queries (top-level inner-join chains of >= 3 tables) get
        the candidate order with the lowest sampled C_out — the summed join
        output rows of one budgeted execution on a seeded sample
        (plans/graph.py) — and everything else falls back to Catalyst's own
        plan unchanged. Results are always identical — inner joins commute —
        only the join order differs. When every scored candidate binds the
        same table sets in the same sequence, the first wins and no sample
        runs (its stats are marked ``predetermined``). The learned chain
        streams its largest input (plans/graph.py ``build_graph_chain``). The
        chosen order and each candidate's C_out land on
        ``self.last_adaptive``.
        """
        from skinnerdb_spark.plans.graph import adaptive_reorder

        res = adaptive_reorder(self.spark.sql(text), **kw)
        self.last_adaptive = res
        return res.df

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def profile(self, name: str) -> DataFrame:
        """Per-column data-quality profile (nulls/distinct/min/max, one
        scan) of any registered table — operators/analytics.profile_frame."""
        from skinnerdb_spark.operators.analytics import profile_frame

        return profile_frame(self.table(name))

    def load_csv(self, name: str, path: str, schema: T.StructType | str, **opts) -> DataFrame:
        df = load_csv(self.spark, path, schema, **opts)
        df.createOrReplaceTempView(name)
        return df

    def cache_table(self, name: str) -> None:
        """In-memory columnar cache — the capability analogue of the
        reference's RAM-resident indexes (src/indexing/Indexer.java:23-71):
        repeated queries hit deserialized columnar batches."""
        self.spark.table(name).cache()

    def cached_sql(self, text: str) -> DataFrame:
        """Persisted result cache: re-running the same SQL against an
        unchanged warehouse reads the materialized parquet result instead of
        recomputing — a durable artifact like the IVF index (operators/
        ivf.py), and the Spark-native upgrade of the reference's per-session
        result reuse (its RAM-resident intermediate caching dies with the
        JVM; this survives sessions and is shareable cluster-wide on DFS).

        Cache key = normalized SQL + a fingerprint of every warehouse file's
        (relpath, size, mtime_ns) — ANY table rewrite invalidates every
        cached result (conservatively; per-query scan-lineage keying is the
        refinement if invalidation granularity ever matters). Writes are
        atomic (tmp dir + rename), so concurrent sessions never read a
        half-written result. Non-deterministic SQL (rand(), now()) is the
        caller's responsibility, exactly as with any materialized view.

        ``self.last_cache_hit`` records whether the last call was served
        from cache.
        """
        import hashlib
        import os
        import shutil

        if self.sf_dir is None:
            raise ValueError("cached_sql requires an attached warehouse")
        norm = " ".join(text.split())
        key = hashlib.md5(f"{norm}|{file_fingerprint(self.sf_dir)}".encode()).hexdigest()
        cache_root = os.environ.get(
            "SKINNER_RESULT_CACHE_DIR", os.path.join(ARTIFACT_ROOT, "result_cache")
        )
        cache_dir = os.path.join(cache_root, key)
        if os.path.isdir(cache_dir):
            self.last_cache_hit = True
            return self.spark.read.parquet(cache_dir)
        self.last_cache_hit = False
        tmp = f"{cache_dir}.tmp-{os.getpid()}"
        self.spark.sql(text).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_cached_sql"), "w") as f:
            f.write(norm + "\n")
        if os.path.isdir(cache_dir):
            shutil.rmtree(cache_dir)
        os.rename(tmp, cache_dir)
        # bounded cache: evict oldest entries beyond the cap so a long-lived
        # warehouse session can't grow the cache without limit (every stale
        # fingerprint generation leaves dead entries behind otherwise)
        entries = sorted(
            (
                os.path.join(cache_root, d)
                for d in os.listdir(cache_root)
                if os.path.isdir(os.path.join(cache_root, d)) and ".tmp-" not in d
            ),
            key=os.path.getmtime,
        )
        for stale in entries[: max(0, len(entries) - RESULT_CACHE_MAX)]:
            shutil.rmtree(stale, ignore_errors=True)
        return self.spark.read.parquet(cache_dir)

    def explain_adaptive(self, text: str, **kw) -> str:
        """Text rendering of the adaptive join-ordering decision — the
        capability analogue of the reference's `explain` UCT-tree
        visualization (SkinnerCmd.processExplain, src/console/
        SkinnerCmd.java:246-289 + TreePlotter): which orders were scored,
        each one's sampled C_out, and which order won (or why the query fell
        back to Catalyst)."""
        from skinnerdb_spark.plans.graph import adaptive_reorder

        res = adaptive_reorder(self.spark.sql(text), use_cache=False, **kw)
        self.last_adaptive = res
        if not res.best_order:
            return f"not adaptive: {res.reason}"
        lines = [f"chosen order: {' > '.join(res.best_order)}"]
        if _predetermined(res.episodes):
            lines.append(f"({_unmeasured_note(res.episodes)})")
            lines.extend(f"  {' > '.join(ep.order)}" for ep in res.episodes)
        elif res.episodes:
            # prefix-tree rendering of the explored order space — the text
            # analogue of the reference's UCT tree plot (TreePlotter.java):
            # each node is a join-order prefix with the number of scored
            # orders through it and the lowest C_out among them
            lines.append("explored order tree (orders, lowest C_out):")
            tree = _order_tree(res.episodes)
            for prefix in sorted(tree, key=lambda p: [str(x) for x in p]):
                n, best = tree[prefix]
                mark = " *" if prefix == res.best_order else ""
                lines.append(
                    f"  {'  ' * (len(prefix) - 1)}{prefix[-1]:<20} "
                    f"n={n} C_out {best}{mark}"
                )
            lines.append("episodes (sampled fact side):")
            for ep in res.episodes:
                how = "memo" if ep.memo else f"{ep.seconds*1000:.1f} ms"
                cout = "timeout" if ep.timed_out else ep.cout
                lines.append(
                    f"  {' > '.join(ep.order):<60} {how:>10}  "
                    f"{ep.rows:>8} rows  C_out {cout}  joins {list(ep.joins)}"
                )
        else:
            lines.append(f"({_unmeasured_note(res.episodes)})")
        return "\n".join(lines)

    def explain_adaptive_dot(self, text: str, **kw) -> str:
        """Graphviz DOT rendering of the explored join-order prefix tree —
        the file-output analogue of the reference's TreePlotter
        (src/visualization/TreePlotter.java renders the UCT tree to PDF;
        we emit .dot text so any graphviz install renders it, with no
        plotting dependency in the engine). Node label = table joined at
        that depth, number of scored orders through it, lowest sampled
        C_out among them; the winning path is drawn bold."""
        from skinnerdb_spark.plans.graph import adaptive_reorder

        res = adaptive_reorder(self.spark.sql(text), use_cache=False, **kw)
        self.last_adaptive = res
        if not res.best_order:
            return _render_uct_dot(None, [], res.reason)
        return _render_uct_dot(tuple(res.best_order), res.episodes)

    def explain_adaptive_dot_snapshots(
        self, text: str, every: int = 1, **kw
    ) -> list[str]:
        """N-spaced EVOLUTION snapshots of the explored order tree — full
        TreePlotter parity (the reference re-renders the UCT tree every
        ``plotAtEach`` samples, src/console/SkinnerCmd.java:246-289): one
        DOT per ``every`` episodes showing the tree as it stood after
        episodes 1..k, with the final full tree always last. The episode
        loop runs ONCE; snapshots are re-renders of its cumulative prefix
        stats, so the cost is the same single exploration the plain DOT
        export pays."""
        if every < 1:
            raise ValueError(f"every must be >= 1, got {every}")
        from skinnerdb_spark.plans.graph import adaptive_reorder

        res = adaptive_reorder(self.spark.sql(text), use_cache=False, **kw)
        self.last_adaptive = res
        if not res.best_order:
            return [_render_uct_dot(None, [], res.reason)]
        best = tuple(res.best_order)
        cuts = list(range(every, len(res.episodes), every)) + [len(res.episodes)]
        return [_render_uct_dot(best, res.episodes[:k]) for k in cuts]

    def explain(self, text: str) -> str:
        return self.spark.sql(text)._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    def select_into(self, target: str, sql: str) -> DataFrame:
        """SELECT ... INTO <target>: store a query result as a named relation
        (reference: Master.executeSelect target-table plumbing,
        src/execution/Master.java:46-60). Registered as a temp view; callers
        wanting durable storage use ``sources.csv.store_table``."""
        df = self.spark.sql(sql)
        df.createOrReplaceTempView(target)
        return df

    def drop(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)

    def bench_dir(self, sql_dir: str, adaptive: bool = False, **adaptive_kw) -> list[dict]:
        """Run every ``*.sql`` file in a directory and collect per-query
        stats — the reference's `bench` command (SkinnerCmd.processBenchCmd,
        src/console/SkinnerCmd.java:67-99 -> BenchUtil.readAllQueries,
        src/benchmark/BenchUtil.java:40-60). A reference user's query
        directory runs unchanged (modulo SQL the reference couldn't parse
        anyway). The committed queries_sql/ corpus (104 JOB-style template
        instantiations, tools/gen_job_corpus.py) is the primary workload.

        ``adaptive=True`` routes each file through :meth:`adaptive_sql`.
        Per-query stats include shuffle count/bytes, spill, and peak operator
        memory (the Spark equivalents of BenchUtil's 16-column counter row,
        src/benchmark/BenchUtil.java:66-79), plus the learned join order."""
        import glob
        import os
        import time

        from skinnerdb_spark.plans.metrics import plan_metrics, run_and_count

        results = []
        for path in sorted(glob.glob(os.path.join(sql_dir, "*.sql"))):
            text = open(path).read().strip().rstrip(";")
            t0 = time.monotonic()
            df = self.adaptive_sql(text, **adaptive_kw) if adaptive else self.spark.sql(text)
            n = run_and_count(df)
            dt = time.monotonic() - t0
            row = {
                "query": os.path.basename(path),
                "millis": int(dt * 1000),
                "rows": n,
                **plan_metrics(df),
            }
            if adaptive:
                row["join_order"] = list(getattr(self.last_adaptive, "best_order", ()))
            results.append(row)
        return results


def _predetermined(episodes: list) -> bool:
    """The decision needed no sampled execution (joinorder.score_orders
    marks every candidate alike)."""
    return bool(episodes) and episodes[0].predetermined


def _unmeasured_note(episodes: list) -> str:
    """Why no order was measured: one connected order, or candidates that
    all bind the same table sets in the same sequence."""
    if not episodes:
        return "single connected order — no episodes needed"
    n = len(episodes)
    return f"{n} candidate{'s' if n > 1 else ''}, one bound-set sequence: no sampled execution"


def _order_tree(episodes: list) -> dict[tuple, list]:
    """Join-order prefix -> [orders scored through it, lowest C_out], the
    C_out reading "timeout" when every such order hit its budget."""
    tree: dict[tuple, list] = {}
    for ep in episodes:
        for d in range(1, len(ep.order) + 1):
            node = tree.setdefault(tuple(ep.order[:d]), [0, None])
            node[0] += 1
            if not ep.timed_out and (node[1] is None or ep.cout < node[1]):
                node[1] = ep.cout
    for node in tree.values():
        if node[1] is None:
            node[1] = "timeout"
    return tree


def _render_uct_dot(
    best: tuple | None, episodes: list, fallback_reason: str | None = None
) -> str:
    """One graphviz DOT frame of the explored join-order prefix tree (shared
    by the final-state export and the N-spaced evolution snapshots): node =
    order prefix with the number of scored orders through it and their
    lowest sampled C_out; the winning path (as of the episodes rendered) is
    bold."""
    out = ["digraph uct {", '  rankdir=LR; node [shape=box, fontsize=10];']
    if best is None:
        out.append(f'  fallback [label="not adaptive: {fallback_reason}"];')
        out.append("}")
        return "\n".join(out)
    tree = {} if _predetermined(episodes) else _order_tree(episodes)
    ids = {p: f"n{i}" for i, p in enumerate(sorted(tree, key=lambda p: [str(x) for x in p]))}
    for prefix, (n, cout) in tree.items():
        on_best = prefix == best[: len(prefix)]
        style = ', style=bold, color=blue' if on_best else ""
        out.append(
            f'  {ids[prefix]} [label="{prefix[-1]}\\nn={n} '
            f'C_out={cout}"{style}];'
        )
        if len(prefix) > 1:
            parent = prefix[:-1]
            estyle = " [style=bold, color=blue]" if on_best and parent == best[: len(parent)] else ""
            out.append(f"  {ids[parent]} -> {ids[prefix]}{estyle};")
    if not tree:
        out.append(
            f'  only [label="{" > ".join(best)}\\n({_unmeasured_note(episodes)})"];'
        )
    out.append("}")
    return "\n".join(out)
