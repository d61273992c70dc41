#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload join_corpus --seed 1 --seconds 15 --trace 0

Workloads (see workloads.py and BENCHMARK.json for why each exists):
  join_corpus   the JOB-style SQL corpus through Engine.adaptive_sql
  operator_mix  registry DataFrame entries, a shared family build and a
                rewrite of orders/lineitem through sources.csv.store_table
  all           every workload in turn (a report only, no result line)

The run is a single-client closed loop in a child process group
(``local[nproc]``); this process samples the tree's memory from /proc and,
whatever happens, kills and reaps every process the run started. With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run. The line before it is
a report with every metric, sample counts and the oracle verdict per op.

Program state is isolated per run: the learned join-order cache is not
persisted, the result cache, Spark local dirs and temp files live in a
per-run directory under ``.perfbench_state/`` (removed afterwards), and the
checkout's files are compared before and after the run. The first run in a
checkout prepares once, untimed: the persisted IVF/PQ indexes and the
expected oracle results.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("join_corpus", "operator_mix")
END_TO_END = ("query_p50_ms", "query_p90_ms", "queries_per_s", "peak_rss_mb", "setup_s")
UNITS = {
    "query_p50_ms": "ms", "query_p90_ms": "ms", "queries_per_s": "1/s", "peak_rss_mb": "MB",
    "setup_s": "s", "failed_frac": "ratio", "write_rows_per_s": "rows/s",
}
#: every run ends well inside the 180 s a run may take (the cleanup test
#: lowers it through PERFBENCH_RUN_LIMIT to exercise the timeout path)
RUN_LIMIT_S = float(os.environ.get("PERFBENCH_RUN_LIMIT", "170"))
PREPARE_LIMIT_S = 700
#: left alone by the before/after comparison of the checkout's files
SCRATCH = {".perfbench_state", "spark-warehouse", ".bench_build", ".git", "metastore_db", "__pycache__"}
PAGE = os.sysconf("SC_PAGE_SIZE")


# -- processes ---------------------------------------------------------------
def _stat(pid: int) -> tuple[int, int, str, bool] | None:
    """(ppid, rss bytes, comm, zombie) from /proc, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), int(fields[21]) * PAGE, comm, fields[0] == "Z"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int = 0) -> dict[int, tuple[int, int, str, bool]]:
    """Every live process below ``root`` (default: this process)."""
    root = root or os.getpid()
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                table[int(d)] = st
    out, frontier = {}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, st in table.items():
            if st[0] == parent and pid not in out:
                out[pid] = st
                frontier.append(pid)
    return out


def marked(run_id: str) -> set[int]:
    """Processes whose environment carries this run's marker (they survive
    even if reparented away from this process)."""
    needle = f"PERFBENCH_RUN={run_id}".encode()
    out = set()
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != os.getpid():
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if needle in f.read().split(b"\0"):
                        out.add(int(d))
            except OSError:
                pass
    return out


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_all(run_id: str) -> list[int]:
    """Terminate, then kill, every process of the run and reap them. Returns
    the pids of processes still running afterwards (should be none)."""
    def running() -> set[int]:
        procs = set(descendants()) | marked(run_id)
        return {p for p in procs if (st := _stat(p)) and not st[3]}

    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = running()
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5.0
        while running() and time.monotonic() < end:
            reap()
            time.sleep(0.1)
    # zombies reparent to this process (a subreaper) once their parent is
    # reaped; give the chain a moment to collapse
    end = time.monotonic() + 5.0
    while descendants() and time.monotonic() < end:
        reap()
        time.sleep(0.05)
    return sorted(running())


class Sampler(threading.Thread):
    """Peak memory of the process tree, sampled from /proc."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.stop_evt = threading.Event()
        self.peak_rss = self.peak_jvm = 0
        self.peak_workers = 0
        self._cmd: dict[int, str] = {}

    def sample(self) -> None:
        tree = descendants()
        own = _stat(os.getpid())
        total = sum(st[1] for st in tree.values()) + (own[1] if own else 0)
        jvm = sum(st[1] for st in tree.values() if st[2] == "java")
        daemons = set()
        for pid, st in tree.items():
            if st[2].startswith("python"):
                cmd = self._cmd.setdefault(pid, _cmdline(pid))
                if "pyspark.daemon" in cmd:
                    daemons.add(pid)
        workers = sum(1 for pid in daemons if tree[pid][0] in daemons)
        self.peak_rss = max(self.peak_rss, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def run(self) -> None:
        while not self.stop_evt.wait(self.period):
            self.sample()


# -- checkout hygiene ----------------------------------------------------------
def snapshot() -> dict[str, tuple[int, int]]:
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SCRATCH]
        for f in files:
            if f.endswith(".pyc"):
                continue
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return out


def host_env(run_id: str, tmp: str) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    avail_gb = 4
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // 2**20
    except OSError:
        pass
    mem = f"{min(4, max(1, avail_gb // 4))}g"
    env = dict(os.environ)
    env.update({
        "PERFBENCH_RUN": run_id,
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of what is free, 1-4 GB: the machine is shared
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SKINNER_ORDER_CACHE_PERSIST": "0",
        "SKINNER_RESULT_CACHE_DIR": os.path.join(tmp, "result_cache"),
        "SKINNER_ORACLE_SF_DIR": os.path.join(HERE, "data", "sf0.1"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
        "PYTHONHASHSEED": "0",
        "TZ": "UTC",
    })
    return env


def run_child(argv: list[str], env: dict, log: str, limit: float, sampler: Sampler | None) -> int | None:
    """Run the worker in its own process group; None on timeout."""
    with open(log, "ab") as lf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True,
        )
        if sampler:
            sampler.start()
        try:
            return proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if sampler:
                sampler.stop_evt.set()
                sampler.join()
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


# -- metrics -------------------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, int(round(q * len(v) + 0.5)) - 1))]


def summarize(raw: dict, sampler: Sampler, env: dict, changed: list[str]) -> dict:
    recs = raw["records"]
    queries = [r for r in recs if r["kind"] != "write"]
    failed = [r for r in recs if r["error"]]
    # a failed query misses every latency limit: rank it above any success
    lat = [float("inf") if r["error"] else r["s"] * 1e3 for r in queries]
    worst = max([x for x in lat if x != float("inf")] + [0.0]) * 10 or 1e9
    lat = [worst if x == float("inf") else x for x in lat]
    ok_queries = sum(1 for r in queries if not r["error"])
    query_s = sum(r["s"] for r in recs)
    writes = raw.get("writes", [])
    rep = {
        "query_p50_ms": statistics.median(lat),
        "query_p90_ms": percentile(lat, 0.9),
        "queries_per_s": ok_queries / query_s if query_s else 0.0,
        "peak_rss_mb": sampler.peak_rss / 2**20,
        "setup_s": raw["setup_s"],
        "failed_frac": len(failed) / len(recs),
        "attempted": len(recs),
        "failed": len(failed),
        "n_queries": len(queries),
        "n_beyond_p90": sum(1 for x in lat if x > percentile(lat, 0.9)),
        "timed_s": raw["timed_s"],
        "setup_marks_s": raw["setup_marks"],
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "oracle": "ok" if not failed else "failed",
        "failures": {r["name"]: r["error"] for r in failed},
        "checkout_changed": changed,
        "adaptive": raw.get("adaptive", {}),
        "ops_ms": [[r["name"], round(r["s"] * 1e3, 1)] for r in recs],
    }
    if writes:
        rows = sum(w.get("rows", 0) for w in writes)
        rep["write_rows_per_s"] = rows / sum(w["write_s"] for w in writes)
        rep["rows_written"] = rows
    return rep


def per_layer(raw: dict, sampler: Sampler) -> dict[str, float]:
    layers = dict(raw["trace"])
    writes = raw.get("writes", [])
    layers["sources.rows_written"] = sum(w.get("rows", 0) for w in writes)
    layers["sources.bytes_written_mb"] = sum(w.get("bytes", 0) for w in writes) / 2**20
    layers["proc.jvm_rss_peak_mb"] = sampler.peak_jvm / 2**20
    layers["proc.python_workers_peak"] = sampler.peak_workers
    layers.pop("op_wall_s", None)
    layers.pop("graph.eligible", None)
    return layers


# -- entry point ---------------------------------------------------------------
def program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("skinnerdb_spark/__init__.py", "skinnerdb_spark/registry.py", "queries_sql")
    ) and os.path.isdir(os.path.join(HERE, "data", "sf0.1"))


def set_subreaper() -> None:
    """Orphaned descendants (the pyspark daemon leaves the worker's process
    group) reparent to this process, so they can still be found and reaped."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict] | None:
    state = os.path.join(ROOT, ".perfbench_state")
    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(state, "runs", run_id)
    os.makedirs(tmp)
    env = host_env(run_id, tmp)
    log = os.path.join(tmp, "worker.log")
    common = ["--root", ROOT, "--state", state, "--tmp", tmp]
    before = snapshot()
    try:
        marker = os.path.join(state, "prepared.json")
        if not os.path.exists(marker):
            rc = run_child([*common, "--prepare", "--out", marker], env, log, PREPARE_LIMIT_S, None)
            kill_all(run_id)
            if rc != 0:
                return fail("prepare", rc, log)
        out = os.path.join(tmp, "raw.json")
        sampler = Sampler()
        argv = [*common, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--out", out, "--spawn-ts", repr(time.time())]
        rc = run_child(argv, env, log, RUN_LIMIT_S, sampler)
        left = kill_all(run_id)
        if rc != 0 or left:
            return fail(workload, rc, log, left)
        with open(out) as f:
            raw = json.load(f)
    finally:
        kill_all(run_id)
        shutil.rmtree(tmp, ignore_errors=True)
    after = snapshot()
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    return summarize(raw, sampler, env, changed), (per_layer(raw, sampler) if trace else {})


def fail(what: str, rc, log: str, left=()) -> None:
    why = "timed out" if rc is None else f"exited {rc}"
    left = [f"{p}:{_stat(p)}:{_cmdline(p)[:80]}" for p in left]
    print(f"perfbench: {what} {why}" + (f"; processes left: {left}" if left else ""), file=sys.stderr)
    try:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    except OSError:
        pass
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not program_present():
        print(f"perfbench: the program is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    set_subreaper()
    # a benchmark killed from outside still cleans up (see one_run's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    for name in names:
        res = one_run(name, args.seed, args.seconds, args.trace)
        if res is None:
            return 1
        rep, layers = res
        units = {k: UNITS.get(k) for k in rep if k in UNITS}
        print(json.dumps({"report": name, "units": units, **rep, **({"per_layer": layers} if layers else {})}))
    if args.workload == "all":
        return 0
    ok = rep["oracle"] == "ok" and not rep["checkout_changed"]
    metrics = (
        {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        if args.trace
        else {k: {"value": rep[k], "unit": UNITS[k]} for k in END_TO_END}
    )
    print(json.dumps({"correct": ok, "attempted": rep["attempted"], "failed": rep["failed"], "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "share", "ratio", "_eff")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
