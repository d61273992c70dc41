"""One benchmark run inside a child process (started by run.py in its own
process group): set up a session, warm up, run the workload's ops in a
closed loop, check every op against DuckDB outside the timed part, and
write the raw measurements as JSON for run.py to summarize.

    python perfbench/worker.py --workload W --seed N --seconds S --trace 0|1 \
        --root DIR --state DIR --tmp DIR --out FILE --spawn-ts T
    python perfbench/worker.py --prepare --root DIR --state DIR --tmp DIR --out FILE
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle as oracle_mod  # noqa: E402
import workloads as wl  # noqa: E402

#: status-store retention high enough that the traced run can read every
#: stage of the window after it ends (same conf traced and untraced), and a
#: fixed, pre-touched driver heap: how much of a lazily touched heap is
#: resident depends on GC timing (peak RSS then moved 2.3-3.6 GB between
#: runs), so the heap is resident from the start and peak RSS moves only
#: with off-heap JVM memory and the Python processes
SESSION_CONF = {
    "spark.ui.retainedJobs": "20000",
    "spark.ui.retainedStages": "40000",
    "spark.driver.extraJavaOptions":
        f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '1g')} -XX:+AlwaysPreTouch",
}

#: work per run as a function of --seconds, so a run measures the same ops
#: on every commit; sized so the timed part takes about --seconds on a
#: 4-core host at the commit that defined the benchmark. operator_mix is one
#: pass over its fixed entry set whatever --seconds says.
def work_plan(workload: str, seconds: int) -> dict:
    if workload == "join_corpus":
        return {"rounds": max(1, round(seconds / 5))}
    return {}


class Ctx:
    def __init__(self, root, spark, specs, engine, sf_dir, wh_dir):
        self.root = root
        self.spark = spark
        self.specs = specs
        self.engine = engine
        self.sf_dir = sf_dir
        self.wh_dir = wh_dir
        self.writes: list[dict] = []

    def rewrite(self, m: int, o: int) -> None:
        """Write the seeded half of orders and lineitem as parquet (the
        tables are overwritten in place if they exist)."""
        from skinnerdb_spark import catalog
        from skinnerdb_spark.sources import csv

        t0 = time.perf_counter()
        for table, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            df = catalog.read_table(self.spark, self.sf_dir, table).where(wl.keep_predicate(key, m, o))
            csv.store_table(df, os.path.join(self.wh_dir, f"{table}.parquet"))
        self.writes.append({"m": m, "o": o, "write_s": time.perf_counter() - t0})


def written_stats(wh_dir: str) -> tuple[int, int]:
    """(rows, bytes) of the rewritten tables, from the parquet footers."""
    import pyarrow.parquet as pq

    rows = size = 0
    for table in ("orders", "lineitem"):
        for f in glob.glob(os.path.join(wh_dir, f"{table}.parquet", "*.parquet")):
            rows += pq.read_metadata(f).num_rows
            size += os.path.getsize(f)
    return rows, size


def check_write(ora, sf_dir: str, wh_dir: str, m: int, o: int) -> str | None:
    """The written files hold exactly the source rows the filter keeps."""
    for table, key, val in (("orders", "o_orderkey", "o_totalprice"), ("lineitem", "l_orderkey", "l_extendedprice")):
        agg = f"SELECT count(*), sum({key}), sum({val}) FROM read_parquet"
        got = ora.query(f"{agg}('{os.path.join(wh_dir, f'{table}.parquet', '*.parquet')}')")
        exp = ora.query(
            f"{agg}('{os.path.join(sf_dir, f'{table}.parquet')}') WHERE {wl.keep_predicate(key, m, o)}"
        )
        if got != exp:
            return f"{table}: written {got} != expected {exp}"
    return None


def prepare(args) -> dict:
    """Untimed, once per checkout: fill the oracle cache for every op that
    reads the static warehouse. (No workload op reads the persisted IVF/PQ
    indexes, so nothing builds them.)"""
    from skinnerdb_spark.registry import all_specs

    specs = all_specs()
    ora = oracle_mod.Oracle(os.path.join(args.state, "oracle"), args.tmp)
    ora.attach(args.sf_dir, oracle_mod.file_fingerprint(args.sf_dir))
    files = wl.corpus_files(args.root)
    sqls = [wl.read_sql(p) for n, p in files.items() if n.rsplit("_", 1)[0] in wl.JOIN_TEMPLATES]
    sqls += [specs[n].oracle for n in wl.OPERATOR_ENTRIES]
    for sql in sqls:
        ora.expected(sql)
    ora.close()
    return {"prepared": True, "oracle_entries": len(sqls)}


def run(args) -> dict:
    marks = {"start": time.time() - args.spawn_ts}
    from skinnerdb_spark.registry import all_specs

    specs = all_specs()
    marks["imports"] = time.time() - args.spawn_ts
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    # looked up through the modules so the traced run sees the wrappers
    from skinnerdb_spark import catalog, session
    from skinnerdb_spark.engine import Engine
    from skinnerdb_spark.plans import graph, metrics

    spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=SESSION_CONF)
    try:
        marks["session"] = time.time() - args.spawn_ts
        if tracer:
            tracer.bind(spark)
        wh_dir = os.path.join(args.tmp, "warehouse")
        ctx = Ctx(args.root, spark, specs, Engine(spark), args.sf_dir, wh_dir)

        catalog.register_views(spark, args.sf_dir)
        marks["views"] = time.time() - args.spawn_ts
        for op in wl.warmup_ops(ctx, args.workload, args.warm_dir):
            metrics.run_and_count(op.build())
        setup_s = time.time() - args.spawn_ts

        plan = work_plan(args.workload, args.seconds)
        if args.workload == "join_corpus":
            ops = wl.join_corpus(ctx, args.seed, **plan)
        else:
            ops = wl.operator_mix(ctx, args.seed)

        ora = oracle_mod.Oracle(os.path.join(args.state, "oracle"), args.tmp)
        ora.attach(args.sf_dir, oracle_mod.file_fingerprint(args.sf_dir))

        span_name = {"query": "build", "family": "family.build", "write": "write"}
        counters0 = graph.adaptive_counters()
        records = []
        timed = 0.0
        for i, op in enumerate(ops):
            if timed > 4 * args.seconds:  # guard: a much slower program still ends in time
                break
            df = None
            err = None
            rows = -1
            if tracer:
                op_span = tracer.begin_op(i, "op")
                tracer.in_op = True
            t0 = time.perf_counter()
            try:
                if tracer:
                    b = tracer.open(span_name[op.kind])
                try:
                    df = op.build()
                finally:
                    if tracer:
                        tracer.close(b)
                if df is not None:
                    rows = metrics.run_and_count(df)
            except Exception as e:  # a failed op is recorded and counted, never fatal
                err = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:200] if str(e).strip() else ''}"
            dt = time.perf_counter() - t0
            timed += dt
            if tracer:
                tracer.in_op = False
                tracer.close(op_span)
                if df is not None:
                    tracer.record_phases(df)
            # oracle check, outside the timed part
            if err is None:
                try:
                    err = check(op, df, rows, ctx, ora)
                except Exception as e:
                    err = f"check failed: {type(e).__name__}: {str(e)[:200]}"
            records.append({"name": op.name, "kind": op.kind, "s": dt, "error": err})
        counters1 = graph.adaptive_counters()

        out = {
            "setup_s": setup_s,
            "setup_marks": marks,
            "timed_s": timed,
            "records": records,
            "writes": ctx.writes,
            "adaptive": {k: counters1[k] - counters0.get(k, 0) for k in counters1},
        }
        if tracer:
            out["trace"] = trace_summary(tracer, ops, records, args, counters0, counters1)
        ora.close()
        return out
    finally:
        spark.stop()


def check(op, df, rows, ctx, ora) -> str | None:
    if op.kind == "write":
        w = ctx.writes[-1]
        w["rows"], w["bytes"] = written_stats(ctx.wh_dir)
        return check_write(ora, ctx.sf_dir, ctx.wh_dir, w["m"], w["o"])
    if op.sql is None:  # family builds have no oracle: must produce rows
        return None if rows > 0 else "family build returned no rows"
    got = oracle_mod.spark_digest(df)
    exp = ora.expected(op.sql)
    if got != exp:
        return f"oracle mismatch: rows {got['rows']} vs {exp['rows']}, cols {got['cols'] == exp['cols']}"
    return None


def trace_summary(tracer, ops, records, args, counters0, counters1) -> dict:
    from skinnerdb_spark.plans import metrics

    n_ops = len(records)
    layers = tracer.summary(set(range(n_ops)), int(os.environ["SPARK_GRAFT_CPUS"]))
    layers.update(tracer.setup_times())
    hits = counters1["cache_hits"] - counters0.get("cache_hits", 0)
    queries = sum(1 for r in records if r["kind"] != "write")
    layers["graph.cache_hits"] = hits
    layers["graph.cache_hit_ratio"] = hits / layers["graph.eligible"] if layers["graph.eligible"] else 0.0
    layers["py4j.calls"] = tracer.py4j_calls
    layers["py4j_s"] = tracer.py4j_s
    layers["py4j.calls_per_query"] = tracer.py4j_calls / queries if queries else 0.0
    for phase in ("analysis", "optimization", "planning"):
        layers[f"catalyst.{phase}_ms"] = tracer.phases_ms.get(phase, 0.0)
    layers["trace.ops"] = n_ops

    # tracing overhead: the first few query ops again, now warm, each run
    # untraced, traced, traced, untraced (so drift cancels)
    probe = [op for op in ops[:n_ops] if op.kind == "query"][:4]
    on = off = 0.0
    for op in probe:
        for traced in (False, True, True, False):
            tracer.enabled = tracer.in_op = traced
            t0 = time.perf_counter()
            metrics.run_and_count(op.build())
            dt = time.perf_counter() - t0
            if traced:
                on += dt
            else:
                off += dt
    tracer.enabled, tracer.in_op = True, False
    layers["trace_overhead_frac"] = on / off - 1 if off else 0.0
    return layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prepare", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawn-ts", type=float, default=0.0)
    args = ap.parse_args()
    args.sf_dir = os.path.join(HERE, "data", "sf0.1")
    args.warm_dir = os.path.join(HERE, "data", "sf0.001")
    sys.path.insert(0, args.root)
    if os.environ.get("PERFBENCH_FAIL_AFTER_SETUP") == "1":
        # fault injection for the cleanup test: start the JVM, then crash
        from skinnerdb_spark.session import get_spark

        get_spark(app_name="perfbench-fail")
        raise RuntimeError("injected failure after session start")
    try:
        out = prepare(args) if args.prepare else run(args)
    except Exception:
        traceback.print_exc()
        return 1
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
