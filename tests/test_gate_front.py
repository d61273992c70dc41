"""The gate order is computed, not kept by hand.

The correctness gate samples the first GATE_WINDOW entries of
``__spark_entry__.queries()``. That front is tools/gate_check.py's report
(GATE_CHECK.json: entries whose fingerprint moved since
GATE_FINGERPRINTS.json, and new ones) plus ``_UNFINGERPRINTED``. These
checks need no Spark session.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import __spark_entry__ as E
from skinnerdb_spark.registry import all_specs
from tools.gate_check import BASELINE, GATE_WINDOW, REPO, REPORT


def _front() -> set[str]:
    with open(REPORT) as f:
        report = json.load(f)
    return set(report["changed"]) | set(report["new"]) | set(E._UNFINGERPRINTED)


def test_queries_order_the_registry_front_first():
    specs = all_specs()
    front = _front()
    order = list(E.queries())
    assert len(front) <= GATE_WINDOW
    assert order == [n for n in specs if n in front] + [n for n in specs if n not in front]
    assert list(E.oracle_sql()) == [n for n in order if specs[n].oracle is not None]


#: run in a fresh interpreter: the test session pins SKINNER_ORACLE_SF_DIR,
#: which the oracles of persisted-index entries embed at registry import,
#: while gate_check fingerprints them at the default
_STATIC = """
import json
from skinnerdb_spark.registry import all_specs
from tools.gate_check import static_fingerprint
print(json.dumps({n: static_fingerprint(s) for n, s in all_specs().items()}))
"""


def test_every_moved_oracle_or_source_is_in_the_front():
    env = {k: v for k, v in os.environ.items() if k != "SKINNER_ORACLE_SF_DIR"}
    out = subprocess.run([sys.executable, "-c", _STATIC], cwd=REPO, env=env,
                         capture_output=True, text=True, check=True)
    cur = json.loads(out.stdout.splitlines()[-1])
    with open(BASELINE) as f:
        base = json.load(f)
    assert len(cur) == len(all_specs())
    moved = {
        n for n, fp in cur.items()
        if n not in base or any(base[n][k] != v for k, v in fp.items())
    }
    assert moved <= _front(), sorted(moved - _front())


def test_every_entry_was_sampled_or_is_in_the_front():
    sampled: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            sampled |= set(json.load(f))
    unsampled = set(all_specs()) - sampled
    assert unsampled <= _front(), sorted(unsampled - _front())
