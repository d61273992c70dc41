"""One-at-a-time scale sweep over every bench-visible registry entry.

The per-round bench (bench.py) times the whole suite in one session; this
runner answers a different question — does EVERY entry complete, and how
does each scale — by running entries individually under a watchdog:

- 300 s per-entry job-group cancellation (a runaway entry cannot wedge the
  sweep; it is recorded as status=timeout and the sweep moves on);
- per-entry error capture (status=error + exception head);
- a disk guard between entries (shuffle spill on a 100x warehouse filled
  the disk once in r7 — fail loudly before the OS does);
- exclusions honored from SPARK_GRAFT_BENCH_EXCLUDE and echoed into the
  output so a sweep can never silently claim coverage it didn't have.

Usage:
    python tools/sweep_runner.py <sf_dir> <out.jsonl> [timeout_sec]

The r7 sf10 sweep (PERFORMANCE.md "the 100x point") ran this shape ad-hoc;
committed so the 100x record is reproducible per-round.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark import InheritableThread

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MIN_FREE_GB = 5.0

#: adjudicated by-name exclusions (VERDICT r8 scale-boundary notes) — a
#: sweep may skip these only WITH the reason attached to the artifact row,
#: so the driver-visible JSONL carries the claim, not just PERFORMANCE.md
EXCLUDE_REASONS = {
    "name_edit_distance_pairs": (
        "output-bound: ~3.3M result pairs at sf1 (bucketed SymSpell keys; "
        "the output itself is the cost)"
    ),
    "dedup_simhash_pairs": "output-bound: ~43M banded pairs at sf1",
    "dedup_prefix_filter": (
        "dense-vocab corpus quadratic BY CONSTRUCTION (per-shingle density "
        "~n/1024); measured on the realistic-Zipf corpus instead — see the "
        "@realvocab row"
    ),
    "dedup_lsh_recall_report": (
        "truth side is the prefix-pair build — same dense-vocab boundary; "
        "measured on the realistic-Zipf corpus instead — see the "
        "@realvocab row"
    ),
}


def run_one(spark, spec, sf_dir: str, timeout: float) -> dict:
    from skinnerdb_spark.plans.graph import adaptive_counters
    from skinnerdb_spark.plans.metrics import plan_metrics, run_and_count

    result: dict = {"name": spec.name}
    group = f"sweep-{spec.name}"

    def work() -> None:
        sc = spark.sparkContext
        sc.setJobGroup(group, spec.name, interruptOnCancel=True)
        try:
            c0 = adaptive_counters()
            t0 = time.monotonic()
            df = spec.spark(spark, sf_dir)
            n = run_and_count(df)
            result["sec"] = round(time.monotonic() - t0, 3)
            result["rows"] = n
            m = plan_metrics(df)
            result["spill"] = m["spill_bytes"]
            result["shuffles"] = m["shuffle_count"]
            # which runs still PAY exploration (VERDICT r8 item 5): per-entry
            # adaptive counter deltas, recorded only when nonzero so the
            # noisy deep-join rows carry their episode attribution
            delta = {
                k: v - c0.get(k, 0)
                for k, v in adaptive_counters().items()
                if v - c0.get(k, 0)
            }
            if delta:
                result["adaptive"] = delta
            result["status"] = "ok"
        except Exception as e:  # noqa: BLE001 — recorded, not swallowed
            result["status"] = "error"
            result["error"] = f"{type(e).__name__}: {str(e)[:200]}"

    # InheritableThread: in py4j pinned-thread mode a bare Thread would leak
    # its pinned JVM thread and the job-group local property per entry
    th = InheritableThread(target=work, daemon=True)
    th.start()
    th.join(timeout)
    if th.is_alive():
        try:
            spark.sparkContext.cancelJobGroup(group)
        except Exception:  # dead gateway: the recycle helper handles it
            pass
        th.join(30)
        # the worker may have FINISHED during the grace join (ADVICE r8):
        # only stamp timeout if it didn't record a completed run — a
        # cancellation-induced error is a timeout, a status=ok is not
        if result.get("status") != "ok":
            result["status"] = "timeout"
            result["sec"] = timeout
    return result


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    timeout = float(sys.argv[3]) if len(sys.argv) > 3 else 300.0

    from skinnerdb_spark.registry import all_specs
    from skinnerdb_spark.session import get_spark

    # the adjudicated exclusions are the runner's OWN default — r11 learned
    # this the expensive way: a sweep launched without the env var ran the
    # dense-vocab prefix family + both output-bound pair entries to their
    # 300 s timeouts and skipped the @realvocab measured points, i.e. the
    # artifact silently lost exactly the rows the adjudications exist to
    # carry. The env var is now an OVERRIDE (set it to "," for a
    # no-exclusions sweep), not the only way to get a correct one.
    env_excl = os.environ.get("SPARK_GRAFT_BENCH_EXCLUDE")
    if env_excl is None:
        excluded = list(EXCLUDE_REASONS)
    else:
        excluded = [e for e in env_excl.split(",") if e]
    spark = get_spark(app_name="scale-sweep")
    specs = {n: s for n, s in sorted(all_specs().items()) if s.bench}

    def fresh_session(session):
        """Stop the session and build a new one, surviving a DEAD JVM.

        After the backing JVM dies (the r10 sweep: a 685 s build GC-starved
        the heartbeat thread until the local-mode executor self-terminated),
        a plain getOrCreate() fails forever: pyspark caches the py4j gateway
        and the active-context singletons process-wide and keeps dialing the
        dead port. Clear them so get_spark launches a NEW JVM."""
        try:
            session.stop()
        except Exception:
            pass
        try:
            from pyspark import SparkContext
            from pyspark.sql import SparkSession as _SS

            # ACTUALLY end the old JVM: stop() only stops the context —
            # the gateway JVM process lives on, and a recycle that leaves
            # it running stacks a second (third, ...) 32-thread JVM onto
            # the same cores; attempt 3 of the r10 sweep measured
            # family:minhash_sigs "timing out" under exactly that
            # self-inflicted contention.
            proc = None
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                try:
                    gw.shutdown()
                except Exception:
                    pass
                if proc is not None:
                    try:
                        proc.terminate()
                        proc.wait(timeout=15)
                    except Exception:
                        try:
                            proc.kill()
                        except Exception:
                            pass
            SparkContext._active_spark_context = None
            SparkContext._gateway = None
            SparkContext._jvm = None
            _SS._instantiatedSession = None
            _SS._activeSession = None
            # verify the old JVM is ACTUALLY gone (ADVICE r10): this block
            # leans on pyspark private internals, and a pyspark upgrade
            # could silently no-op the whole cleanup inside the except —
            # regressing to the stacked-JVM contention mode it exists to
            # fix. poll() is None means the process is still alive: say so
            # loudly instead of letting the next rows time out mysteriously.
            if proc is not None and proc.poll() is None:
                print(
                    "WARNING: fresh_session could not terminate the old"
                    f" gateway JVM (pid {getattr(proc, 'pid', '?')}) — the"
                    " recycled session will CONTEND with it; sweep timings"
                    " from here on are suspect",
                    flush=True,
                )
        except Exception as exc:
            print(
                "WARNING: fresh_session JVM cleanup raised"
                f" ({type(exc).__name__}: {exc}) — pyspark internals may"
                " have changed; the old gateway JVM may still be running",
                flush=True,
            )
        time.sleep(3)  # let the old JVM's ports/threads drain
        return get_spark(app_name="scale-sweep")

    def recycle_if_wounded(session, r):
        """Recycle the shared session after ANY non-ok row, in EVERY loop.

        The r10 sweep proved both halves the hard way: (a) the r9
        main-loop-only recycle let a timeout in the @realvocab branch
        cascade; (b) a marker-list test for "dead gateway" errors missed
        the first SparkContext-shut-down error row, so the cascade ran for
        40+ rows before a recognizable ConnectionRefused appeared. A
        healthy sweep has ZERO non-ok rows, so recycling on every one
        costs nothing and removes the classification problem entirely.
        Family memo caches die with the session; downstream members
        rebuild, which costs seconds and keeps every row honest."""
        if r.get("status") in (None, "timeout", "error"):
            print(f"recycling session after {r.get('name', '?')} "
                  f"{r.get('status')}", flush=True)
            return fresh_session(session)
        return session

    # family builds BEFORE their member entries, as explicit rows — same
    # attribution contract as bench.py (VERDICT r5 item 6): member entries
    # measure steady-state, not whichever member alphabetically absorbs the
    # shared build. Without this the r8 sweep showed dedup_clusters at
    # 100 s (99.8 s of which was the LSH chain build it happened to
    # trigger first). (Since r10 the @realvocab branch precedes families —
    # see the ordering note in the output loop.)
    from skinnerdb_spark.registry import family_builds

    class _FamilySpec:
        def __init__(self, name, fn):
            self.name, self._fn = name, fn

        def spark(self, session, sf):
            return self._fn(session, sf)

    # single derivation of the realvocab corpus dir (ADVICE r10: the
    # excluded-loop and the post-branch recycle guard each re-derived it,
    # and two derivations can silently drift apart)
    rv_dir = sf_dir.rstrip("/") + "rv"

    with open(out_path, "w") as out:
        # order matters (r10): the @realvocab branch runs FIRST, against
        # its own corpus, and the session is recycled before the dense-
        # corpus family builds — so the ~700 s cold pair build can neither
        # GC-scar the JVM the main loop uses (the r10 heartbeat-starvation
        # cascade) nor leave the family attribution rows reading a session
        # polluted with another corpus's caches.
        for name in excluded:
            if name in specs:
                spec = specs.pop(name)
                row = {"name": name, "status": "excluded"}
                if name in EXCLUDE_REASONS:
                    row["reason"] = EXCLUDE_REASONS[name]
                out.write(json.dumps(row) + "\n")
                # the prefix-filter's density boundary is a property of the
                # dense-vocab corpus, not the algorithm — measure it on the
                # realistic-Zipf warehouse (datagen_scale --realvocab-docs)
                # as a named row so the sweep carries the measured point
                if name in (
                    "dedup_prefix_filter",
                    "dedup_lsh_recall_report",  # truth side = the prefix pairs
                ) and os.path.isdir(rv_dir):
                    # the @realvocab rows ARE the measured points for these
                    # entries (that is why they are excluded from the dense
                    # corpus) — the cold family pair build costs ~450 s on
                    # the slow-host class, so a flat `timeout` cap can only
                    # truncate the one number the row exists to carry; give
                    # the branch 3x and record the budget in the row
                    r = run_one(spark, spec, rv_dir, timeout * 3)
                    r["name"] = f"{name}@realvocab"
                    r["corpus"] = rv_dir
                    r["timeout_budget_s"] = timeout * 3
                    out.write(json.dumps(r) + "\n")
                    out.flush()
                    print(f"{r['name']}: {r.get('status')} {r.get('sec', '')}", flush=True)
                    spark = recycle_if_wounded(spark, r)
        if any(
            n in ("dedup_prefix_filter", "dedup_lsh_recall_report")
            for n in excluded
        ) and os.path.isdir(rv_dir):
            # the @realvocab branch runs against a DIFFERENT corpus: its
            # cached family frames are dead weight for the dense-corpus
            # main loop, and the ~700 s cold pair build leaves the JVM
            # GC-scarred (r10: heartbeat starvation killed the local-mode
            # executor three entries later). Start the main loop on a
            # fresh session unconditionally; the dense-corpus families
            # rebuild lazily inside their member rows if needed.
            print("recycling session after the @realvocab branch", flush=True)
            spark = fresh_session(spark)
        for fname, fn in family_builds():
            # a family build whose every consumer is excluded at this corpus
            # must not run against it (prefix_pairs on the dense-vocab sf10
            # warehouse is quadratic BY CONSTRUCTION — its consumers carry
            # @realvocab rows instead, and so does the family, implicitly,
            # inside those timed runs)
            if fname == "family:prefix_pairs" and "dedup_prefix_filter" in excluded:
                out.write(json.dumps({
                    "name": fname, "status": "excluded",
                    "reason": EXCLUDE_REASONS["dedup_prefix_filter"],
                }) + "\n")
                out.flush()
                print(f"{fname}: excluded (dense-vocab boundary)", flush=True)
                continue
            r = run_one(spark, _FamilySpec(fname, fn), sf_dir, timeout)
            r.setdefault("name", fname)
            out.write(json.dumps(r) + "\n")
            out.flush()
            print(f"{fname}: {r.get('status')} {r.get('sec', '')}", flush=True)
            spark = recycle_if_wounded(spark, r)
        for i, (name, spec) in enumerate(specs.items()):
            free_gb = shutil.disk_usage("/").free / 1e9
            if free_gb < MIN_FREE_GB:
                out.write(
                    json.dumps({"name": name, "status": "disk_guard", "free_gb": free_gb})
                    + "\n"
                )
                out.flush()
                print(f"ABORT: {free_gb:.1f} GB free < {MIN_FREE_GB}", flush=True)
                break
            r = run_one(spark, spec, sf_dir, timeout)
            r.setdefault("name", name)
            out.write(json.dumps(r) + "\n")
            out.flush()
            print(f"[{i + 1}/{len(specs)}] {name}: {r.get('status')} {r.get('sec', '')}", flush=True)
            spark = recycle_if_wounded(spark, r)


if __name__ == "__main__":
    main()
