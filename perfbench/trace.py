"""Span recording and Spark event-log folding for the traced run.

Spans are recorded around calls into the engine's layers by wrapping the
engine's public functions from here, so the engine code stays untouched.
A span has a name, start, end, parent span and op id; spans are kept in
memory and written out when the run ends. An untraced run installs no
wrapper at all.

The Spark side of the per-layer split comes from the engine itself:
the event log (jobs, stages, task metrics, SQL metrics of the Python
nodes) is folded per op by job submission time, which catches the jobs
the streaming thread submits as well as the ones the client submits.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.active = enabled  # spans recorded right now
        self.op: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrapped(self, fn, name: str):
        """``fn`` wrapped in a span called ``name``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a wrapper that records a span."""
        setattr(owner, attr, self.wrapped(getattr(owner, attr), name))

    def wrap_everywhere(self, fn, name: str):
        replace_everywhere(fn, self.wrapped(fn, name))

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["end"] is not None]

    def dump(self, path: str, ops: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": ops}, f)


def replace_everywhere(fn, new, prefix: str = "pulsar_lunar_spark") -> None:
    """Replace a module-level function in its defining module and in every
    engine module that imported it by name."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(prefix) and getattr(
            mod, fn.__name__, None
        ) is fn:
            setattr(mod, fn.__name__, new)


def phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of the DataFrame's last execution, from
    ``QueryExecution.tracker().phases()``."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                out[ph] = float(opt.get().durationMs())
    except Exception:
        pass
    return out


PYTHON_TIME_METRIC = "time to run Python workers"


def fold_event_log(log_dir: str, windows: list[tuple[int, float, float]]) -> dict[int, dict]:
    """Fold a Spark event log into per-op sums.

    ``windows`` lists ``(op, start_ms, end_ms)`` in epoch milliseconds; a
    job belongs to the op whose window holds its submission time. Returns
    ``{op: {jobs, stages, tasks, run_ms, cpu_ms, gc_ms, shuffle_read,
    shuffle_write, spill, python_ms, job_spans}}``.
    """
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not files:
        return {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_ran: set[int] = set()
    tasks: list[dict] = []
    ns_metrics: set[int] = set()

    def plan_metrics(node):
        for m in node.get("metrics", []):
            if m.get("name") == PYTHON_TIME_METRIC and m.get("metricType") == "nsTiming":
                ns_metrics.add(m.get("accumulatorId"))
        for child in node.get("children", []):
            plan_metrics(child)

    with open(max(files, key=os.path.getsize)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev.get("Submission Time", 0), "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                stage_ran.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                plan_metrics(ev.get("sparkPlanInfo", {}))

    def op_of(ms: float):
        for op, lo, hi in windows:
            if lo <= ms <= hi:
                return op
        return None

    out: dict[int, dict] = {}

    def acc(op):
        return out.setdefault(op, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
            "gc_ms": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "python_ms": 0.0, "job_spans": [],
        })

    job_op = {}
    for jid, j in jobs.items():
        op = op_of(j["submit"])
        job_op[jid] = op
        if op is None:
            continue
        a = acc(op)
        a["jobs"] += 1
        a["job_spans"].append((j["submit"], j["end"] or j["submit"]))
    for sid in stage_ran:
        op = job_op.get(stage_job.get(sid))
        if op is not None:
            acc(op)["stages"] += 1
    for ev in tasks:
        op = job_op.get(stage_job.get(ev.get("Stage ID")))
        if op is None:
            continue
        a = acc(op)
        a["tasks"] += 1
        m = ev.get("Task Metrics") or {}
        a["run_ms"] += m.get("Executor Run Time", 0)
        a["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        a["gc_ms"] += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        a["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        a["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for u in (ev.get("Task Info") or {}).get("Accumulables", []):
            if u.get("Name") == PYTHON_TIME_METRIC:
                v = float(u.get("Update") or 0)
                a["python_ms"] += v / 1e6 if u.get("ID") in ns_metrics else v
    return out


def union_ms(spans: list[tuple[float, float]]) -> float:
    """Total length of the union of ``[start, end]`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
