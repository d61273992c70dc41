"""Reproducible ANN recall/cost sweep over the registered vector-search
entries.

Prints one markdown table (and a JSON line) of recall@K and collect time
for every approximate entry (``operators.similarity.ANN_ENTRIES``),
measured against the exact brute-force baseline on the same warehouse —
the numbers cited in INVENTORY.md / PERFORMANCE.md regenerate from this
script. The bench's ``ann_recall`` receipt is the same computation.

Usage:
    python tools/ann_sweep.py [sf_dir]     # default /root/testdata/sf0.01
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str = "/root/testdata/sf0.01") -> dict:
    from skinnerdb_spark.operators.similarity import ANN_ENTRIES, ann_recall
    from skinnerdb_spark.queries.util import read_table
    from skinnerdb_spark.session import get_spark

    spark = get_spark(app_name="ann-sweep")
    report = {
        "sf_dir": sf_dir,
        "corpus": read_table(spark, sf_dir, "embeddings").count(),
        **ann_recall(spark, sf_dir),
    }
    for r in report["entries"]:
        r["representation"] = ANN_ENTRIES[r["entry"]]
    print(f"\n| entry | recall@{report['k']} | secs | candidate representation |")
    print("|---|---|---|---|")
    for r in report["entries"]:
        print(
            f"| {r['entry']} | {r['recall_at_k']} | {r['seconds']} "
            f"| {r['representation']} |"
        )
    print()
    print(json.dumps(report))
    spark.stop()
    return report


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
