#!/usr/bin/env python
"""Gate hygiene, enforced not remembered (VERDICT r6 item 3).

Round 6 changed two operators (dedup_prefix_filter, name_edit_distance_pairs)
without rotating them into the driver's 50-entry correctness sample — the
_REVERIFY list is maintained by hand and hands forget. This tool makes the
rotation CHECKABLE: it fingerprints every registry entry and diffs against
the committed baseline (GATE_FINGERPRINTS.json, regenerated at the end of
each round), flagging any entry whose behavior-relevant surface changed.

Fingerprint per entry (all three must be stable for "unchanged"):
- plan:   the ANALYZED logical plan at sf0.001, exprIds/RDD ids normalized —
          catches changes to the entry itself AND to any shared helper that
          shapes its plan (e.g. the r7 ranked_topk rewrite flags all 5 call
          sites automatically, which a source-hash-only check would miss);
- oracle: the DuckDB oracle SQL text;
- src:    the registered function's own source (catches Python-side changes
          that do not reach the plan string, e.g. a mapInPandas body edit in
          the same function).
Known limit: an edit to a helper module invoked ONLY inside a worker-side
UDF body (e.g. operators/codecs.py) changes neither plan nor entry source —
list such entries in _REVERIFY manually; everything plan-shaped is covered.

Usage:
    python tools/gate_check.py --update      # regenerate the baseline
    python tools/gate_check.py               # check: changed/new entries
                                             # must be in the gate front
Exit 1 on violation. Writes GATE_CHECK.json with the flagged set.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "GATE_FINGERPRINTS.json")
REPORT = os.path.join(REPO, "GATE_CHECK.json")
SF_DIR = os.environ.get("SKINNER_GATECHECK_SF_DIR", "/root/testdata/sf0.001")

#: the driver samples this many entries off the front of queries()
GATE_WINDOW = 50

_ID_RE = re.compile(r"#\d+")
_RDD_RE = re.compile(r"(MapPartitionsRDD|ParallelCollectionRDD|LogicalRDD)\[\d+\]")
_HEX_RE = re.compile(r"@[0-9a-f]{6,}")
#: lambda variables carry a SESSION-GLOBAL counter (x_1, x_2, ...) that
#: varies with how many higher-order expressions the session built earlier
_LAMBDA_RE = re.compile(r"(lambda [A-Za-z]\w*?)_\d+")


def _norm_plan(s: str) -> str:
    s = _ID_RE.sub("#N", s)
    s = _RDD_RE.sub(r"\1[N]", s)
    s = _HEX_RE.sub("@X", s)
    s = _LAMBDA_RE.sub(r"\1_N", s)
    s = s.replace(SF_DIR, "<SF>")
    s = s.replace(REPO, "<REPO>")  # worktree/clone-independent artifact paths
    return s


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def fingerprints(spark) -> dict[str, dict[str, str]]:
    from skinnerdb_spark.registry import all_specs

    out: dict[str, dict[str, str]] = {}
    for name, spec in sorted(all_specs().items()):
        entry: dict[str, str] = {}
        try:
            df = spec.spark(spark, SF_DIR)
            plan = df._jdf.queryExecution().analyzed().toString()
            entry["plan"] = _md5(_norm_plan(plan))
        except Exception as exc:  # a broken build is itself a change
            entry["plan"] = f"ERR:{type(exc).__name__}"
        # oracle SQL can embed repo-absolute artifact paths (persisted ANN
        # indexes) — normalize them the same way as plans
        entry["oracle"] = _md5((spec.oracle or "").replace(REPO, "<REPO>"))
        try:
            entry["src"] = _md5(inspect.getsource(spec.spark))
        except OSError:
            entry["src"] = "nosrc"
        out[name] = entry
    return out


def gate_front() -> list[str]:
    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    return list(E.queries())[:GATE_WINDOW]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--update", action="store_true",
                    help="regenerate GATE_FINGERPRINTS.json from the current tree")
    args = ap.parse_args()

    # deterministic fingerprints: adaptive wrappers must not consult the
    # learned-order cache (its contents vary with session history) or run
    # sampled episodes at build time
    os.environ["SKINNER_ADAPTIVE_DISABLE"] = "1"
    from skinnerdb_spark.session import get_spark

    spark = get_spark(app_name="gate-check")
    cur = fingerprints(spark)
    spark.stop()

    if args.update:
        with open(BASELINE, "w") as f:
            json.dump(cur, f, indent=0, sort_keys=True)
        print(f"baseline updated: {len(cur)} entries -> {BASELINE}")
        return 0

    try:
        with open(BASELINE) as f:
            base = json.load(f)
    except OSError:
        print(f"no baseline at {BASELINE} — run with --update first", file=sys.stderr)
        return 1

    changed = sorted(
        n for n, fp in cur.items()
        if n in base and any(base[n].get(k) != v for k, v in fp.items())
    )
    new = sorted(n for n in cur if n not in base)
    front = gate_front()
    missing = sorted(n for n in changed + new if n not in front)
    report = {
        "changed": changed,
        "new": new,
        "gate_front": front,
        "missing_from_gate_front": missing,
        "ok": not missing,
    }
    with open(REPORT, "w") as f:
        json.dump(report, f, indent=1)
    print(f"changed: {len(changed)} {changed}")
    print(f"new: {len(new)} {new}")
    if missing:
        print(f"VIOLATION — changed/new entries NOT in the gate front window: {missing}")
        print("add them to _PRIORITY/_REVERIFY in __spark_entry__.py")
        return 1
    print("ok: every changed/new entry is inside the gate front window")
    return 0


if __name__ == "__main__":
    sys.exit(main())
