"""Interactive console — the reference's primary UX (SkinnerCmd REPL,
src/console/SkinnerCmd.java:298-344 command dispatch, 351-387 main loop).

Command surface, mapped 1:1 onto the Engine facade:

    quit                      exit
    help                      this text
    list                      tables in the session catalog
    load <tbl> <csv> [sep]    CSV -> parquet-backed view (LoadCSV analogue)
    compress [tbl]            rewrite table(s) as dictionary+zstd parquet
    index all | index <tbl>   cache table(s) in columnar RAM (Indexer analogue)
    bench <dir>               run a .sql directory with per-query stats
    exec <file>               run each ';'-terminated statement in a file
    explain <sql>             formatted physical plan
    explain adaptive <sql>    per-order sampled C_out + chosen join order
    explain adaptive dot [every N] <sql>  graphviz DOT of the explored order tree (every N: snapshot files)
ops [name ...]            register operator results as op_<name> SQL views
    adaptive on|off           route SQL through adaptive join ordering
    <anything else>           SQL -> execute + print rows

Run: ``python -m skinnerdb_spark.console [sf_dir]``.

The dispatch lives in :meth:`Console.handle` (line in, text out) so tests
drive it without a TTY — the same structure as SkinnerCmd.processInput.
"""

from __future__ import annotations

import sys

from skinnerdb_spark.catalog import DEFAULT_SF_DIR
from skinnerdb_spark.engine import Engine

_HELP = """\
quit                      exit the console
help                      show this help
list                      list tables
load <tbl> <csv> [sep]    register a CSV file as table <tbl>
compress [tbl]            rewrite table(s) as dictionary+zstd parquet, re-point views
index all | index <tbl>   cache table(s) in memory
profile <tbl>             per-column nulls/distinct/min/max (one scan)
skew <tbl> <col> [k]      hottest keys + salting recommendation (plans/skew.py)
layout zorder|range <tbl> <cols...>  rewrite with a pruning layout, re-point view
bench <dir>               run every .sql file in <dir>, print per-query stats
exec <file>               execute ';'-separated statements from a file
analyze <sql>             run the statement, report executed-plan metrics
analyze dot <sql>         executed-plan profile graph (graphviz, SQLMetrics)
vacuum [apply]            inventory (apply: reclaim) persisted artifacts
explain <sql>             show the physical plan
explain adaptive <sql>    show per-order sampled C_out + chosen join order
explain adaptive dot [every N] <sql>  graphviz DOT of the explored order tree (every N: snapshot files)
adaptive on|off           toggle adaptive join ordering for SQL input
<sql>                     execute SQL and print the result"""


class Console:
    def __init__(self, engine: Engine, max_rows: int = 20):
        self.engine = engine
        self.max_rows = max_rows
        self.adaptive = False

    # -- command dispatch (SkinnerCmd.processInput) -------------------------
    def handle(self, line: str) -> str | None:
        """Process one input line; returns output text, or None on quit."""
        line = line.strip().rstrip(";")
        if not line:
            return ""
        cmd, _, rest = line.partition(" ")
        cmd = cmd.lower()
        if cmd == "quit":
            return None
        if cmd == "help":
            return _HELP
        if cmd == "list":
            return "\n".join(t.name for t in self.engine.spark.catalog.listTables())
        if cmd == "compress":
            # reference: Compressor.compress() dictionary-encodes string
            # columns and updates the catalog (Compressor.java:31-49); here
            # the tables are rewritten as dictionary+zstd parquet and the
            # session views re-pointed at the compressed copies
            names = [rest.strip()] if rest.strip() else None
            rep = self.engine.compress_tables(names)
            lines = [
                f"{r['table']}: {r['bytes_before']} -> {r['bytes_after']} bytes"
                f" (x{r['ratio']})"
                for r in rep
            ]
            return "\n".join(lines)
        if cmd == "ops":
            # extension: expose registry operators as op_<name> SQL views
            names = rest.split() or None
            created = self.engine.attach_operators(names)
            return f"registered {len(created)} operator views: " + ", ".join(
                created[:5]) + (" ..." if len(created) > 5 else "")
        if cmd == "index":
            return self._index(rest.strip())
        if cmd == "vacuum":
            # extension: persisted-artifact inventory / reclamation
            rep = self.engine.vacuum(apply=rest.strip() == "apply")
            if not rep:
                return "no persisted artifacts"
            return "\n".join(
                f"{r['path']}: {r['kind']} {r['bytes']}B"
                + (f" stale={r['stale']}" if r["stale"] is not None else "")
                + (" REMOVED" if r["removed"] else "")
                for r in rep
            )
        if cmd == "analyze":
            # extension: EXPLAIN ANALYZE — run the statement and report the
            # EXECUTED plan's metrics (rows, wall time, shuffle/spill/peak
            # memory via SQLMetrics), not the static estimate. `analyze dot
            # <sql>` renders the executed plan as a metric-annotated
            # graphviz profile graph instead.
            import time

            from skinnerdb_spark.plans.metrics import (
                plan_dot,
                plan_metrics,
                run_and_count,
            )

            sub, _, sql2 = rest.partition(" ")
            if sub.lower() == "dot":
                df = (
                    self.engine.adaptive_sql(sql2)
                    if self.adaptive
                    else self.engine.sql(sql2)
                )
                run_and_count(df)
                return plan_dot(df)
            df = self.engine.adaptive_sql(rest) if self.adaptive else self.engine.sql(rest)
            t0 = time.time()
            n = run_and_count(df)
            secs = time.time() - t0
            m = plan_metrics(df)
            return (
                f"rows={n} time={secs:.3f}s shuffles={m['shuffle_count']} "
                f"shuffle_rw={m['shuffle_write_bytes']}/{m['shuffle_read_bytes']}B "
                f"spill={m['spill_bytes']}B peak_mem={m['peak_mem_bytes']}B "
                f"aqe={m['adaptive']}"
            )
        if cmd == "layout":
            # extension: physical-layout rewrite (zorder|range) + re-point
            args = rest.split()
            if len(args) < 3:
                return "usage: layout zorder|range <tbl> <col> [col...]"
            rep = self.engine.relayout_table(args[1], args[2:], mode=args[0])
            return (
                f"{rep['table']}: {rep['mode']} on {','.join(rep['cols'])} "
                f"-> {rep['n_files']} files at {rep['path']}"
            )
        if cmd == "skew":
            # extension: pre-shuffle skew diagnostic + salting recommendation
            args = rest.split()
            if len(args) < 2:
                return "usage: skew <tbl> <col> [topk]"
            from skinnerdb_spark.plans.skew import recommend_salts, skew_report

            df = self.engine.spark.table(args[0])
            topk = int(args[2]) if len(args) > 2 else 10
            body = skew_report(df, args[1], topk=topk)._show_string(
                self.max_rows, 60, False
            )
            n = recommend_salts(df, args[1])
            hint = (
                "no salting needed (AQE handles this skew level)"
                if n == 1
                else f"recommend n_salts={n} for salted_join/aggregate_two_phase"
            )
            return f"{body}{hint}"
        if cmd == "profile":
            # extension: the data-quality summary (operators/analytics
            # profile_frame) for any registered table, one scan
            return self.engine.profile(rest.strip())._show_string(
                self.max_rows, 60, False
            )
        if cmd == "load":
            return self._load(rest.split())
        if cmd == "bench":
            return self._bench(rest.strip())
        if cmd == "exec":
            return self._exec(rest.strip())
        if cmd == "explain":
            sub, _, sql = rest.partition(" ")
            if sub.lower() == "adaptive":
                sub2, _, sql2 = sql.partition(" ")
                if sub2.lower() == "dot":
                    sub3, _, sql3 = sql2.partition(" ")
                    if sub3.lower() == "every":
                        # full TreePlotter parity (SkinnerCmd.java:246-289
                        # re-plots the UCT tree every plotAtEach samples):
                        # N-spaced evolution snapshots written as .dot files
                        n_str, _, sql4 = sql3.partition(" ")
                        return self._dot_snapshots(int(n_str), sql4)
                    # TreePlotter parity: graphviz text of the UCT order tree
                    return self.engine.explain_adaptive_dot(sql2)
                return self.engine.explain_adaptive(sql)
            return self.engine.explain(rest)
        if cmd == "adaptive":
            arg = rest.strip().lower()
            self.adaptive = arg != "off"
            return f"adaptive join ordering {'on' if self.adaptive else 'off'}"
        return self._sql(line)

    def _dot_snapshots(self, every: int, sql: str) -> str:
        """`explain adaptive dot every N <sql>`: write one DOT file per N
        exploration episodes (tree-as-of-episode-k) plus the final tree —
        the file-series output of the reference's TreePlotter PDFs."""
        import os

        dots = self.engine.explain_adaptive_dot_snapshots(sql, every=every)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out_dir = os.path.join(repo_root, "spark-warehouse", "uct_snapshots")
        os.makedirs(out_dir, exist_ok=True)
        paths = []
        for i, dot in enumerate(dots, 1):
            p = os.path.join(out_dir, f"uct_ep{i * every:04d}.dot")
            with open(p, "w") as f:
                f.write(dot + "\n")
            paths.append(p)
        return f"wrote {len(paths)} snapshot(s):\n" + "\n".join(paths)

    def _sql(self, text: str) -> str:
        df = self.engine.adaptive_sql(text) if self.adaptive else self.engine.sql(text)
        out = df._show_string(self.max_rows, 60, False)
        if self.adaptive:
            order = getattr(self.engine.last_adaptive, "best_order", ())
            if order:
                out += f"\n[adaptive order: {' > '.join(order)}]"
        return out

    def _index(self, target: str) -> str:
        names = (
            [t.name for t in self.engine.spark.catalog.listTables()]
            if target == "all"
            else [target]
        )
        for n in names:
            self.engine.cache_table(n)
        return f"cached: {', '.join(names) if names else '(none)'}"

    def _load(self, args: list[str]) -> str:
        if len(args) < 2:
            return "usage: load <table> <csv-path> [separator]"
        name, path = args[0], args[1]
        sep = args[2] if len(args) > 2 else ","
        # console loads infer the schema (the reference requires a pre-created
        # table; Engine.load_csv keeps that explicit-schema path)
        df = (
            self.engine.spark.read.option("inferSchema", "true")
            .option("header", "true")
            .option("sep", sep)
            .csv(path)
        )
        df.createOrReplaceTempView(name)
        return f"loaded {name}: {len(df.columns)} columns"

    def _bench(self, sql_dir: str) -> str:
        rows = self.engine.bench_dir(sql_dir, adaptive=self.adaptive)
        lines = ["query\tmillis\trows\tshuffles"]
        for r in rows:
            lines.append(f"{r['query']}\t{r['millis']}\t{r['rows']}\t{r['shuffle_count']}")
        total = sum(r["millis"] for r in rows)
        lines.append(f"total\t{total}\t({len(rows)} queries)")
        return "\n".join(lines)

    def _exec(self, path: str) -> str:
        # SkinnerCmd.processFile: ';'-separated statements, run in order
        out = []
        for stmt in open(path).read().split(";"):
            if stmt.strip():
                out.append(self.handle(stmt.strip()) or "")
        return "\n".join(out)

    # -- REPL loop (SkinnerCmd.main) ----------------------------------------
    def run(self, stdin=None, stdout=None) -> None:
        stdin = stdin or sys.stdin
        stdout = stdout or sys.stdout
        stdout.write("skinnerdb-spark console — 'help' for commands\n")
        while True:
            stdout.write("> ")
            stdout.flush()
            line = stdin.readline()
            if not line:
                break
            try:
                out = self.handle(line)
            except Exception as exc:  # REPL survives bad SQL, like the reference
                stdout.write(f"error: {exc}\n")
                continue
            if out is None:
                break
            if out:
                stdout.write(out + "\n")


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    sf_dir = argv[0] if argv else DEFAULT_SF_DIR
    Console(Engine(sf_dir=sf_dir)).run()


if __name__ == "__main__":
    main()
