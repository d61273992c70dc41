"""The benchmark leaves no process behind and no checkout file changed:
after a normal run, a run whose worker fails, and a run killed by timeout.

    python3 -m pytest perfbench/test_cleanup.py -q     (about two minutes)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def leftovers() -> list[int]:
    """Processes that carry a benchmark run marker in their environment."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    env = f.read().split(b"\0")
            except OSError:
                continue
            if any(e.startswith(b"PERFBENCH_RUN=") for e in env) and not (run._stat(int(d)) or (0, 0, "", True))[3]:
                out.append(int(d))
    return out


def bench(extra_env: dict[str, str]) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if not k.startswith("PERFBENCH_")}
    env.update(extra_env)
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "join_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        env=env, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("case", ["normal", "failing", "timeout"])
def test_no_process_left_and_checkout_unchanged(case):
    before = run.snapshot()
    extra = {"failing": {"PERFBENCH_FAIL_AFTER_SETUP": "1"}, "timeout": {"PERFBENCH_RUN_LIMIT": "20"}}
    res = bench(extra.get(case, {}))
    if case == "normal":
        assert res.returncode == 0, res.stderr[-2000:]
        last = json.loads(res.stdout.strip().splitlines()[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert last["correct"] and last["attempted"] >= 1
    else:
        assert res.returncode != 0
        assert "correct" not in res.stdout
    assert leftovers() == []
    assert not [p for p in run.descendants() if not run._stat(p) or not run._stat(p)[3]]
    after = run.snapshot()
    assert {k for k in before.keys() | after.keys() if before.get(k) != after.get(k)} == set()
