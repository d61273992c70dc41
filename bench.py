#!/usr/bin/env python
"""Benchmark harness — replicates the reference's `bench` command
(src/console/SkinnerCmd.java:67-99 -> src/benchmark/BenchUtil.java) on the
driver warehouse.

Runs every registered headline query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], times end-to-end execution
(plan BUILD + optimize + execute + collect-to-count — build is inside the
timer since r7 so iterative entries that materialize rounds via eager
localCheckpoint at build time are billed honestly, and the reference's
per-query "total ms" likewise includes optimization), and prints ONE JSON
line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1,
     "runs": [N1, N2], "best_total": N, "calibration_sec": C}

`calibration_sec` is a pinned constant-work scan+shuffle+agg probe timed
before pass 1 — divide totals by it to compare across hosts/rounds
(this box's VM class alone moved totals ~2x between r8 and r9).

Noise protocol (VERDICT r6 item 7): this box's ambient band moves
round-over-round totals by up to ~50% cross-day, so a single-shot total is
uninterpretable on its own. The surface therefore runs PAIRS_DEFAULT times
back-to-back in one session; "value" stays the FIRST (coldest) pass — the
number comparable to the reference's cold 104 s — while "runs" carries every
pass total and "best_total"/query best-of expose the ambient floor.

Per-query details land in $SPARK_GRAFT_BENCH_CSV (pass 1; best-of seconds in
the JSON). The reference's UCT counters have no Spark equivalent; wall-clock
per query is the comparable metric (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

PAIRS_DEFAULT = 2


def run_pass(
    spark, sf_dir: str, excluded: list[str], csv_lines: list[str] | None
) -> tuple[dict, dict]:
    """One full timed pass over the bench surface, minus the ``excluded``
    entry names.

    Returns (per_query seconds, per_query rows). csv_lines, when given,
    accumulates the reference-style per-query stats rows
    (BenchUtil.java:66-79 schema, UCT counters replaced by executed-plan
    SQLMetrics)."""
    from skinnerdb_spark.engine import Engine
    from skinnerdb_spark.plans.metrics import plan_metrics, run_and_count
    from skinnerdb_spark.registry import all_specs, family_builds

    specs = {n: s for n, s in all_specs().items() if s.bench and n not in excluded}
    per_query: dict[str, float] = {}
    rows: dict[str, int] = {}

    def record(name: str, dt: float, n: int, m: dict) -> None:
        per_query[name] = round(dt, 4)
        rows[name] = n
        if csv_lines is not None:
            csv_lines.append(
                f"{name},{int(dt * 1000)},{n},{m['shuffle_count']},"
                f"{m['shuffle_write_bytes']},{m['shuffle_read_bytes']},"
                f"{m['spill_bytes']},{m['peak_mem_bytes']},"
                f"{'adaptive' if m['adaptive'] else 'static'}"
            )

    # session-shared family builds, timed as EXPLICIT rows (VERDICT r5 item
    # 6): the LSH/similarity entries reuse these memoized intermediates
    # (the analogue of the reference's per-session `index all` build), so
    # without explicit rows their one-time build + codegen cost lands on
    # whichever member query happens to run first and per-query deltas
    # absorb attribution shifts (r5: knn_label_vote 0.23->2.0 s). Each row
    # times the shared build (cache materialization included); member
    # queries then measure steady-state. On pass 2+ the memoized caches are
    # warm and these rows measure cache-read floor — by design.
    for label, build in family_builds():
        t0 = time.monotonic()
        df = build(spark, sf_dir)
        n = run_and_count(df)
        record(label, time.monotonic() - t0, n, plan_metrics(df))

    for name, spec in sorted(specs.items()):
        t0 = time.monotonic()
        df = spec.spark(spark, sf_dir)
        n = run_and_count(df)
        dt = time.monotonic() - t0
        record(name, dt, n, plan_metrics(df))

    # the committed JOB-style SQL corpus (queries_sql/, 104 template
    # instantiations mirroring the reference's imdb/queries directory), run
    # through the adaptive-join-order path — the reference's primary
    # benchmark workload shape
    corpus = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries_sql")
    if os.path.isdir(corpus):
        from skinnerdb_spark.catalog import register_views

        eng = Engine(spark)
        register_views(spark, sf_dir)
        for r in eng.bench_dir(
            corpus, adaptive=True, episodes=2, sample_rows=8000,
            # reference-style episode budget (JoinConfig.java:22): bounds
            # exploration cost on big warehouses (sf1+); never fires at the
            # sub-second sf0.1 episode times
            episode_budget_s=10.0,
        ):
            qname = "sql:" + r["query"].removesuffix(".sql")
            record(qname, r["millis"] / 1000.0, r["rows"], r)
    return per_query, rows


def adaptive_duel_receipt(spark, sf_dir: str, k: int = 3) -> list[dict]:
    """Live receipt that learned orders still beat (or tie) Catalyst default
    (VERDICT r10 item 4: episodes=0 / cache_hits=314 for three rounds meant
    no bench run had exercised a duel since the orders were learned).

    Picks ``k`` corpus queries deterministically (md5 of filename — stable
    across runs, no RNG), and for each runs three timed executions:
      * ``default`` — the bare Catalyst plan (no reorder),
      * ``cached``  — the learned order served from the in-process cache
                      (zero episodes, the production fast path; the
                      corpus passes above learned it),
      * ``duel``    — a LIVE re-score with the cache bypassed
                      (use_cache=False: the candidates' sampled C_out is
                      measured again, nothing is written), plus the full
                      run of its winner.
    Per query it also records ``cout`` (the fresh winner's sampled C_out),
    ``episodes`` (sampled executions the re-score ran; candidates that bind
    the same table sets in the same sequence share one, and when all do,
    none runs: ``episodes`` 0 and ``cout`` null) and ``same_order``.
    C_out is exact on a seeded sample, so a re-score reproduces the cached
    order; ``same_order: false`` flags a cached order that a re-score would
    not pick (one learned by another instantiation of the same template,
    whose filter constants differ). The deltas land in the bench JSON as
    ``adaptive_duel`` — the adaptive tier's analogue of the ANN recall
    receipts."""
    import glob
    import hashlib

    from skinnerdb_spark.catalog import register_views
    from skinnerdb_spark.plans.graph import adaptive_reorder
    from skinnerdb_spark.plans.metrics import run_and_count

    corpus = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries_sql")
    if not os.path.isdir(corpus):
        return []
    register_views(spark, sf_dir)
    files = sorted(
        glob.glob(os.path.join(corpus, "*.sql")),
        key=lambda p: hashlib.md5(os.path.basename(p).encode()).hexdigest(),
    )
    receipts: list[dict] = []
    for path in files:
        if len(receipts) >= k:
            break
        with open(path) as f:
            text = f.read()

        def timed(df) -> float:
            t0 = time.monotonic()
            run_and_count(df)
            return round(time.monotonic() - t0, 3)

        cached = adaptive_reorder(
            spark.sql(text), use_cache=True, episodes=2,
            sample_rows=8000, episode_budget_s=10.0,
        )
        if not cached.best_order:
            continue  # ineligible shape — move to the next candidate file
        t_cached = timed(cached.df)
        t_default = timed(spark.sql(text))
        t0 = time.monotonic()
        duel = adaptive_reorder(
            spark.sql(text), use_cache=False, episodes=2,
            sample_rows=8000, episode_budget_s=10.0,
        )
        run_and_count(duel.df)
        t_duel = round(time.monotonic() - t0, 3)
        receipts.append({
            "q": os.path.basename(path).removesuffix(".sql"),
            "default": t_default,
            "cached": t_cached,
            "duel": t_duel,
            "cout": next((e.cout for e in duel.episodes if e.order == duel.best_order), None),
            "episodes": sum(e.measured for e in duel.episodes),
            "same_order": duel.best_order == cached.best_order,
        })
    return receipts


def calibration_sec(spark) -> float:
    """Pinned constant-work host-speed probe: 16M synthetic rows through a
    scan -> md5 fold -> hash shuffle -> aggregate, independent of SF dir and
    registry. Timed best-of-2 (the first run pays codegen/JIT, which is not
    host speed). Cross-round total comparisons divide by this number —
    VERDICT r9 spent hours attributing a ~2x total swing to VM class; the
    recorded `calibration_sec` makes that one division.
    """
    from pyspark.sql import functions as F

    from skinnerdb_spark.plans.metrics import run_and_count

    def one() -> float:
        t0 = time.monotonic()
        df = (
            spark.range(0, 16_000_000, 1, 64)
            .select(
                (F.col("id") % 9973).alias("k"),
                F.expr(
                    "CAST(conv(substring(md5(CAST(CAST(id AS STRING)"
                    " AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
                ).alias("h"),
            )
            .groupBy("k")
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        run_and_count(df)
        return time.monotonic() - t0

    return round(min(one(), one()), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_BENCH_EXCLUDE: comma-separated entry names to skip — used
    # for the sf10 (100x) scale run, where the OUTPUT-BOUND pair generators
    # (name_edit_distance_pairs: 3.3M pairs at sf1; dedup_simhash_pairs:
    # 43M) would dominate the run with result-writing, not operator work.
    # Exclusions are deliberate, named, and land in the JSON so no run can
    # silently claim coverage it didn't have.
    excluded = [e for e in os.environ.get("SPARK_GRAFT_BENCH_EXCLUDE", "").split(",") if e]
    from skinnerdb_spark.registry import all_specs
    from skinnerdb_spark.session import get_spark

    spark = get_spark(app_name="skinnerdb-spark-bench")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not session bootstrap (the reference's "warm" run, README.md:45)
    next(iter(all_specs().values())).spark(spark, sf_dir).count()
    # pre-warm the Python worker pool (spark.python.worker.reuse shares it
    # across queries): the first mapInPandas query otherwise pays ~1-2 s of
    # interpreter spin-up that is session overhead, not query cost — the
    # reference baseline is likewise a warm (second-run) number
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # host-speed calibration FIRST (constant work, SF-independent): lands in
    # the JSON so cross-round totals can be compared as ratios. A second
    # sample runs AFTER the last pass (VERDICT r10 item 7: a single best-of-2
    # point swung 1.48-4.09 s same-day, so normalizing by one point divides
    # by noise) — the JSON carries the two-point band as calibration_secs
    # and keeps the pre-pass point as calibration_sec for continuity.
    cal_sec = calibration_sec(spark)

    csv_lines = [
        "Query,Millis,Rows,ShuffleCnt,ShuffleWriteBytes,ShuffleReadBytes,"
        "SpillBytes,PeakMemBytes,AQEPlan"
    ]
    passes: list[dict[str, float]] = []
    rows: dict[str, int] = {}
    for i in range(PAIRS_DEFAULT):
        pq, rw = run_pass(spark, sf_dir, excluded, csv_lines if i == 0 else None)
        passes.append(pq)
        if i == 0:
            rows = rw
    per_query = passes[0]  # headline pass: coldest, baseline-comparable
    best_query = {
        name: min(p[name] for p in passes if name in p) for name in per_query
    }

    # live adaptive receipt (VERDICT r10 item 4): re-duel K cached corpus
    # shapes against Catalyst default each run, so episodes > 0 every bench
    # and the learned orders carry a recurring won/tied comparison
    try:
        duels = adaptive_duel_receipt(spark, sf_dir)
    except Exception as exc:  # receipt is reporting, never a bench failure
        duels = [{"error": str(exc)[:200]}]

    # closing calibration sample: the band [pre-pass, post-pass] bounds the
    # host-speed drift WITHIN this run (see protocol note above)
    cal_sec_post = calibration_sec(spark)

    # full per-query details always land in the CSV (BENCH_STATS.csv unless
    # overridden) — the printed JSON stays small; see below
    csv_path = os.environ.get("SPARK_GRAFT_BENCH_CSV", "BENCH_STATS.csv")
    with open(csv_path, "w") as f:
        f.write("\n".join(csv_lines) + "\n")

    # ANN quality: recall@k of each approximate entry vs the exact
    # brute-force baseline (the judge-facing approximation dial)
    try:
        from skinnerdb_spark.operators import similarity

        ann_recall = {
            r["entry"]: r["recall_at_k"] for r in similarity.ann_recall(spark, sf_dir)["entries"]
        }
    except Exception as exc:  # recall is reporting, never a bench failure
        ann_recall = {"error": str(exc)}

    sf = None
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        pass

    # the driver captures only ~2000 chars of output: the full 200-query map
    # made the JSON unparseable for three rounds (BENCH_r01..r03 parsed:
    # null). Print a trimmed map — slowest 20 queries — and point at the CSV
    # for the rest; total/value/sf/n_queries carry the headline numbers.
    slowest = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:20])
    out = {
        "metric": "total_query_sec",
        "value": round(sum(per_query.values()), 4),
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(per_query),
        "total_rows": sum(rows.values()),
        "runs": [round(sum(p.values()), 4) for p in passes],
        "best_total": round(sum(best_query.values()), 4),
        "calibration_sec": cal_sec,
        "calibration_secs": [cal_sec, cal_sec_post],
        "ann_recall": ann_recall,
        "adaptive_duel": duels,
        # adaptive-tier spend this run: sampled executions and cache hits
        "adaptive": __import__(
            "skinnerdb_spark.plans.graph", fromlist=["adaptive_counters"]
        ).adaptive_counters(),
        "detail_csv": csv_path,
    }
    if excluded:
        out["excluded"] = excluded
    line = json.dumps(out)
    if len(line) > 1900:  # belt-and-suspenders under the capture limit
        out["queries"] = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:8])
        line = json.dumps(out)
    print(line)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
