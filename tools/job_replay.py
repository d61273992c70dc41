#!/usr/bin/env python
"""Verbatim JOB replay: the reference's 113 benchmark queries, unmodified,
differential-tested against DuckDB on the synthetic IMDB warehouse.

This is the reference's own benchmark+verify method (SURVEY §3.3,
src/benchmark/BenchAndVerify.java:57-239 — run every imdb/queries/*.sql,
cross-check against an oracle DBMS) re-created for this engine:

- warehouse: tools/datagen_imdb.py (deterministic, literal-seeded — built on
  demand if absent);
- engine side: each query text runs VERBATIM through Engine.adaptive_sql
  (the learned-order path — the reference's headline feature applied
  to its own workload);
- oracle side: the same text on DuckDB over the same parquet files;
- checks per query (the BenchAndVerify triple, minus the per-predicate
  cardinalities the engine has no operator boundary for):
    1. full result set equality (sorted columns, sorted rows, exact values
       — the JOB SELECTs are MIN() aggregates, so this is a 1-row value
       compare);
    2. join-result cardinality: the query re-run as SELECT COUNT(*) with
       the same FROM/WHERE (BenchAndVerify.java:147-174's join cardinality
       check);
- output: JOB_REPLAY.json — per-query match flags, join cardinality, and
  wall-clock for both engines + totals; ``spark_ms``/``duckdb_ms`` time each
  engine ANSWERING the query, ``verify_ms`` the cross-check overhead (the
  count twin on both engines), kept out of the headline totals exactly as
  the reference's clock excludes its oracle cross-check.

Usage:
    python tools/job_replay.py [--queries DIR] [--warehouse DIR] [--limit N]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return v


def _norm_result(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, rows by value — engine-order-independent."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


_FROM_SPLIT = re.compile(r"\bFROM\b", re.I)


def count_twin(text: str) -> str:
    """SELECT COUNT(*) over the query's own FROM/WHERE (every JOB query is
    a single flat SELECT — no subqueries, so the first FROM is THE from)."""
    m = _FROM_SPLIT.search(text)
    return "SELECT COUNT(*) AS n FROM" + text[m.end():]


def run_replay(
    queries_dir: str, warehouse: str, limit: int | None = None,
    out_path: str | None = None, scale: float = 1.0, episodes: int = 2,
) -> dict:
    import duckdb

    from skinnerdb_spark.engine import Engine
    from skinnerdb_spark.session import get_spark
    from tools.datagen_imdb import SCHEMA, generate, register_imdb_views

    spark = get_spark(app_name="job-replay")
    # session.py raises autoBroadcastJoinThreshold to 64 MB for the bench
    # warehouse's tiny dims. On a cardinality-matched IMDB (scale 100:
    # cast_info 36M rows) that tuning is WRONG: Spark's estimate is
    # compressed-parquet bytes, so multi-million-row skew-keyed tables
    # slip under 64 MB and the LongHashedRelation broadcast build
    # degenerates (minutes, single-threaded, in findKeyPosition — dense
    # duplicated long keys). The replay runs at Spark's default 10 MB:
    # real dims still broadcast, fact-sized relations shuffle-join with
    # AQE handling skew — the setting that would actually ship at scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    if not os.path.isdir(warehouse) or not all(
        os.path.exists(os.path.join(warehouse, f"{t}.parquet")) for t in SCHEMA
    ):
        print(f"warehouse missing -> generating at scale {scale}", file=sys.stderr)
        generate(spark, warehouse, scale, queries_dir)
    register_imdb_views(spark, warehouse)
    eng = Engine(spark)

    con = duckdb.connect()
    for t in SCHEMA:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{os.path.join(warehouse, f'{t}.parquet')}/*.parquet')"
        )

    files = sorted(glob.glob(os.path.join(queries_dir, "*.sql")))
    if limit:
        files = files[:limit]

    # session warmup: one trivial scan-aggregate so first-query wall time
    # measures the query, not JVM/codegen/parquet-footer first-touch.
    spark.sql("SELECT COUNT(*) FROM title").collect()

    per_query: dict[str, dict] = {}
    n_match = n_count_match = n_nonempty = 0
    spark_total = duck_total = verify_total = 0.0
    for path in files:
        qname = os.path.basename(path).removesuffix(".sql")
        text = open(path).read().strip().rstrip(";")
        ctext = count_twin(text)
        entry: dict = {}
        try:
            # timed section = the engine answering the query (parse ->
            # adaptive reorder -> execute -> fetch), exactly what the
            # reference's benchmark clock covers (BenchAndVerify.java times
            # Skinner's processing; the oracle cross-check is separate).
            t0 = time.monotonic()
            df = eng.adaptive_sql(text, episodes=episodes, sample_rows=8000,
                                  episode_budget_s=10.0)
            srows = [tuple(r) for r in df.collect()]
            scols = df.columns
            s_dt = time.monotonic() - t0

            t0 = time.monotonic()
            cur = con.execute(text)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            d_dt = time.monotonic() - t0

            # verification (untimed in the headline): join-cardinality twin
            # on BOTH engines (BenchAndVerify.java:147-174's check) + full
            # result-set equality.
            t0 = time.monotonic()
            sn = spark.sql(ctext).collect()[0][0]
            on = con.execute(ctext).fetchone()[0]
            v_dt = time.monotonic() - t0

            match = _norm_result(scols, srows) == _norm_result(ocols, orows)
            cmatch = int(sn) == int(on)
            entry = {
                "match": match, "count_match": cmatch, "join_rows": int(on),
                "spark_ms": int(s_dt * 1000), "duckdb_ms": int(d_dt * 1000),
                "verify_ms": int(v_dt * 1000),
                "order": list(getattr(eng.last_adaptive, "best_order", ()))[:6],
            }
            n_match += match
            n_count_match += cmatch
            n_nonempty += int(on) > 0
            spark_total += s_dt
            duck_total += d_dt
            verify_total += v_dt
        except Exception as exc:  # a failure is a recorded red, never a crash
            entry = {"match": False, "count_match": False,
                     "err": f"{type(exc).__name__}: {exc}"[:300]}
        per_query[qname] = entry
        flag = "ok" if entry.get("match") and entry.get("count_match") else "RED"
        print(f"{qname}: {flag} rows={entry.get('join_rows')} "
              f"spark={entry.get('spark_ms')}ms duck={entry.get('duckdb_ms')}ms",
              file=sys.stderr)

    out = {
        "queries": len(files),
        "result_match": n_match,
        "count_match": n_count_match,
        "nonempty_join": n_nonempty,
        "spark_total_sec": round(spark_total, 2),
        "duckdb_total_sec": round(duck_total, 2),
        "verify_total_sec": round(verify_total, 2),
        "warehouse": warehouse,
        "per_query": per_query,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="/root/reference/imdb/queries")
    ap.add_argument("--warehouse", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale_data", "imdb"))
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument("--episodes", type=int, default=2)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="datagen scale if the warehouse must be built "
                         "(1.0 = real-IMDB cardinalities / 100)")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "JOB_REPLAY.json"))
    args = ap.parse_args()
    out = run_replay(args.queries, args.warehouse, args.limit, args.out,
                     scale=args.scale, episodes=args.episodes)
    summary = {k: v for k, v in out.items() if k != "per_query"}
    print(json.dumps(summary))
    return 0 if out["result_match"] == out["queries"] else 1


if __name__ == "__main__":
    sys.exit(main())
