"""Span tracer for the traced benchmark run.

Spans are recorded from outside the program: the public functions of each
layer are wrapped in place (every module that imported a function by name
gets the wrapper too), so the program's files stay untouched. Each span
records its op id, parent, start/end and the Spark job-id range that was
open while it ran (the DAG scheduler's next job id before and after; job
groups are left alone because the adaptive tier uses them to cancel
episodes). Spans stay in memory; :meth:`Tracer.summary` turns them into the
per-layer metrics when the run ends.
"""

from __future__ import annotations

import importlib
import re
import sys
import threading
import time
from dataclasses import dataclass, field

#: (module, function, span name) wrapped while tracing. Self time of a span
#: is its duration minus its children's, so nested layers never double count.
WRAPPED = [
    ("skinnerdb_spark.session", "get_spark", "session.get_spark"),
    ("skinnerdb_spark.catalog", "register_views", "catalog.register_views"),
    ("skinnerdb_spark.catalog", "read_table", "catalog.read_table"),
    ("skinnerdb_spark.plans.graph", "adaptive_reorder", "graph.reorder"),
    ("skinnerdb_spark.plans.graph", "extract_query_graph", "graph.extract"),
    ("skinnerdb_spark.plans.graph", "_budgeted_count", "joinorder.episode"),
    ("skinnerdb_spark.plans.joinorder", "budgeted_count", "joinorder.episode"),
    ("skinnerdb_spark.plans.metrics", "run_and_count", "exec"),
    ("skinnerdb_spark.sources.csv", "store_table", "sources.store_table"),
]

_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


@dataclass
class Span:
    op: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    jobs: tuple[int, int] = (0, 0)
    children: list[int] = field(default_factory=list)
    note: object = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = -1
        self.enabled = True
        # py4j round trips are counted inside ops, outside execution: a call
        # that runs a job blocks for the whole job and is execution time
        self.in_op = False
        self.executing = 0
        self.sc = None
        self.dag = None
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.phases_ms: dict[str, float] = {}
        self._lock = threading.Lock()
        self._internal = threading.local()

    # -- installation -----------------------------------------------------
    def install(self) -> None:
        for mod_name, fn_name, span_name in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self._wrap(orig, span_name)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("skinnerdb_spark") and (
                    getattr(mod, fn_name, None) is orig
                ):
                    setattr(mod, fn_name, wrapper)
        self._wrap_py4j()

    def _wrap_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        for cls in (ClientServerConnection, GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                if not (self.enabled and self.in_op) or self.executing or getattr(self._internal, "on", False):
                    return _orig(conn, command, *a, **kw)
                t0 = time.perf_counter()
                try:
                    return _orig(conn, command, *a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    with self._lock:
                        self.py4j_calls += 1
                        self.py4j_s += dt

            cls.send_command = send_command

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext
        self._internal.on = True
        try:
            self.dag = self.sc._jsc.sc().dagScheduler()
        finally:
            self._internal.on = False

    def _next_job(self) -> int:
        if self.dag is None:
            return 0
        self._internal.on = True
        try:
            return int(self.dag.nextJobId())
        finally:
            self._internal.on = False

    # -- spans --------------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled or threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            idx = tracer.open(name)
            runs_jobs = name in ("exec", "joinorder.episode")
            tracer.executing += runs_jobs
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                tracer.executing -= runs_jobs
                note = None
                if ok and name == "joinorder.episode":
                    note = "timeout" if out[0] is None else "ok"
                elif ok and name == "graph.reorder":
                    note = "eligible" if getattr(out, "best_order", ()) else "ineligible"
                tracer.close(idx, note)

        wrapper.__wrapped__ = fn
        return wrapper

    def open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        sp = Span(self.op, name, parent, time.perf_counter())
        sp.jobs = (self._next_job(), 0)
        idx = len(self.spans)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self.stack.append(idx)
        return idx

    def close(self, idx: int, note=None) -> None:
        sp = self.spans[idx]
        sp.jobs = (sp.jobs[0], self._next_job())
        sp.t1 = time.perf_counter()
        sp.note = note
        self.stack.pop()

    def begin_op(self, op_id: int, name: str) -> int:
        self.op = op_id
        return self.open(name)

    def record_phases(self, df) -> None:
        """Catalyst phase times of the op's final plan (tracker().phases())."""
        self._internal.on = True
        try:
            text = df._jdf.queryExecution().tracker().phases().toString()
        except Exception:  # a plan without a tracker contributes nothing
            return
        finally:
            self._internal.on = False
        for phase, t0, t1 in _PHASE.findall(text):
            self.phases_ms[phase] = self.phases_ms.get(phase, 0.0) + (int(t1) - int(t0))

    # -- summary ------------------------------------------------------------
    def self_time(self, sp: Span) -> float:
        return sp.dur - sum(self.spans[c].dur for c in sp.children)

    def self_jobs(self, sp: Span) -> int:
        own = sp.jobs[1] - sp.jobs[0]
        return own - sum(self.spans[c].jobs[1] - self.spans[c].jobs[0] for c in sp.children)

    def stage_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Completed-stage totals for the given jobs, from the status store."""
        out = dict.fromkeys(("stages", "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"), 0.0)
        if self.sc is None or not job_ids:
            return out
        self._internal.on = True
        try:
            jsc = self.sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty(10_000)
            store = jsc.statusStore()
            tracker = self.sc.statusTracker()
            seen: set[int] = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                ids = info.stageIds
                for k in range(len(ids)):
                    s = int(ids[k])
                    if s in seen:
                        continue
                    seen.add(s)
                    try:
                        d = store.lastStageAttempt(s)
                    except Exception:  # evicted from the status store
                        continue
                    if d.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += d.numCompleteTasks()
                    out["task_s"] += d.executorRunTime() / 1e3
                    out["task_cpu_s"] += d.executorCpuTime() / 1e9
                    out["gc_s"] += d.jvmGcTime() / 1e3
                    out["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
                    out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 2**20
        finally:
            self._internal.on = False
        return out

    def summary(self, ops: set[int], cores: int) -> dict[str, float]:
        """Per-layer totals over the spans of the given op ids. Times are self
        times in seconds; counts are totals over the traced window."""
        spans = [s for s in self.spans if s.op in ops]
        tot: dict[str, float] = {}
        cnt: dict[str, int] = {}
        jobs: dict[str, int] = {}
        notes: dict[tuple[str, object], int] = {}
        exec_jobs: list[int] = []
        op_wall = covered = 0.0
        for s in spans:
            if s.parent is None:
                if s.name == "op":
                    op_wall += s.dur
                    covered += sum(self.spans[c].dur for c in s.children)
                continue
            tot[s.name] = tot.get(s.name, 0.0) + self.self_time(s)
            cnt[s.name] = cnt.get(s.name, 0) + 1
            jobs[s.name] = jobs.get(s.name, 0) + self.self_jobs(s)
            notes[(s.name, s.note)] = notes.get((s.name, s.note), 0) + 1
            if s.name == "exec":
                exec_jobs.extend(range(*s.jobs))
        st = self.stage_metrics(exec_jobs)
        eligible = notes.get(("graph.reorder", "eligible"), 0)
        wall_exec = sum(s.dur for s in spans if s.name == "exec")
        return {
            "catalog.read_table.calls": cnt.get("catalog.read_table", 0),
            "catalog.read_table_s": tot.get("catalog.read_table", 0.0),
            "catalog.read_table.jobs": jobs.get("catalog.read_table", 0),
            "build_s": tot.get("build", 0.0),
            "build.jobs": jobs.get("build", 0),
            "build.share": tot.get("build", 0.0) / op_wall if op_wall else 0.0,
            "family.build_s": tot.get("family.build", 0.0),
            "graph.extract.calls": cnt.get("graph.extract", 0),
            "graph.extract_s": tot.get("graph.extract", 0.0),
            "graph.reorder_s": tot.get("graph.reorder", 0.0),
            "graph.ineligible": notes.get(("graph.reorder", "ineligible"), 0),
            "joinorder.episodes": cnt.get("joinorder.episode", 0),
            "joinorder.episode_s": tot.get("joinorder.episode", 0.0),
            "joinorder.episode_timeouts": notes.get(("joinorder.episode", "timeout"), 0),
            "exec_s": tot.get("exec", 0.0),
            "exec.jobs": len(exec_jobs),
            "exec.stages": st["stages"],
            "exec.tasks": st["tasks"],
            "exec.task_s": st["task_s"],
            "exec.task_cpu_s": st["task_cpu_s"],
            "exec.gc_s": st["gc_s"],
            "exec.shuffle_write_mb": st["shuffle_write_mb"],
            "exec.spill_mb": st["spill_mb"],
            "exec.parallel_eff": st["task_s"] / (wall_exec * cores) if wall_exec else 0.0,
            "sources.store_table.calls": cnt.get("sources.store_table", 0),
            "sources.store_table_s": tot.get("sources.store_table", 0.0),
            "graph.eligible": eligible,
            "other_s": op_wall - covered,
            "op_wall_s": op_wall,
        }

    def setup_times(self) -> dict[str, float]:
        """Wall of session start and of view registration (set-up)."""
        out = {"session.get_spark_s": 0.0, "catalog.register_views_s": 0.0}
        for s in self.spans:
            if s.name in ("session.get_spark", "catalog.register_views"):
                out[s.name + "_s"] += s.dur
        return out
