"""Per-layer tracing for the benchmark, from outside the engine.

Two halves:

- ``Spans`` tags every Spark job with the public call that launched it.
  Around each timed operator it sets the SparkContext local property
  ``perfbench.op``; around each call of the module bindings of
  ``util.materialize``, ``graph.modularity.modularity`` and
  ``Checkpointer.save_state`` it sets ``perfbench.sub`` and records the
  call's wall time.  Every span restores the previous property value on
  exit.  Nothing inside ``slmpy_spark`` is edited: the wrappers replace
  the module attributes for the traced phase only and are removed after.
- ``join_event_log`` folds Spark's own event log (JSON lines) into the
  per-layer table: jobs, stages, tasks, busy time, task metrics, shuffle
  and spill bytes, straggler ratio and the Python-worker accumulables,
  per operator span.

``peak_rss_mb`` reads VmHWM from /proc for the Spark JVM and its Python
workers.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

OP_KEY = "perfbench.op"
SUB_KEY = "perfbench.sub"

# Spark SQL metric names of the Python UDF runners, as they appear in a
# stage's accumulables (ms for the times, bytes for the data).
PY_ACCUMULABLES = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "data sent to Python workers": "py_mb_sent",
}


@contextmanager
def local_property(sc, key: str, value: str):
    prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try:
        yield
    finally:
        sc.setLocalProperty(key, prev)


class Spans:
    """Span recorder for one traced phase.

    ``calls`` holds one ``(kind, op, wall_s)`` row per wrapped call made
    while an operator span was open; ``op_walls`` the wall of each
    operator span."""

    def __init__(self, sc):
        self.sc = sc
        self.op = None
        self.calls: list[tuple[str, str, float]] = []
        self.op_walls: dict[str, float] = {}
        self._seq = 0
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def op_span(self, op: str):
        self.op = op
        t0 = time.perf_counter()
        try:
            with local_property(self.sc, OP_KEY, op):
                yield
        finally:
            self.op_walls[op] = self.op_walls.get(op, 0.0) + time.perf_counter() - t0
            self.op = None

    def _wrap(self, kind: str, fn):
        spans = self

        def wrapped(*args, **kw):
            spans._seq += 1
            t0 = time.perf_counter()
            try:
                with local_property(spans.sc, SUB_KEY, f"{kind}#{spans._seq}"):
                    return fn(*args, **kw)
            finally:
                if spans.op is not None:
                    spans.calls.append((kind, spans.op, time.perf_counter() - t0))

        wrapped.__wrapped__ = fn
        return wrapped

    def _patch(self, owner, attr: str, kind: str) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(kind, orig))

    def install(self) -> None:
        """Wrap every module binding of the three sub-span functions."""
        from slmpy_spark import util
        from slmpy_spark.checkpoint import Checkpointer
        from slmpy_spark.graph import modularity as modmod

        targets = ((util.materialize, "materialize"), (modmod.modularity, "modularity"))
        for name, mod in list(sys.modules.items()):
            if not name.startswith("slmpy_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                for fn, kind in targets:
                    if val is fn:
                        self._patch(mod, attr, kind)
        self._patch(Checkpointer, "save_state", "save_state")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def _ms(x) -> float:
    return float(x or 0) / 1000.0


def _mb(x) -> float:
    return float(x or 0) / 1e6


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def join_event_log(events: list[dict], ops, op_walls: dict[str, float]) -> dict:
    """Per-operator Spark costs from one event log.

    Only jobs submitted under an operator span count; warm-up, input
    building and output checks run outside any span."""
    job_op, job_t0, job_t1 = {}, {}, {}
    stage_op, stage_sub = {}, {}
    stage_tasks: dict[int, list[dict]] = {}
    stage_acc: dict[int, list] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            op = (ev.get("Properties") or {}).get(OP_KEY)
            if op:
                job_op[ev["Job ID"]] = op
                job_t0[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_op:
            job_t1[ev["Job ID"]] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            if props.get(OP_KEY):
                stage_op[sid] = props[OP_KEY]
                stage_sub[sid] = props.get(SUB_KEY) or ""
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_op:
            stage_tasks.setdefault(ev["Stage ID"], []).append(ev)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_op:
                stage_acc[info["Stage ID"]] = info.get("Accumulables") or []

    out: dict[str, float] = {}
    py = dict.fromkeys(PY_ACCUMULABLES.values(), 0.0)
    ckpt_bytes = 0.0
    for op in ops:
        jobs = [j for j, o in job_op.items() if o == op]
        stages = [s for s, o in stage_op.items() if o == op]
        busy = _union_s(
            (job_t0[j], job_t1.get(j, job_t0[j])) for j in jobs
        )
        run = cpu = gc = shw = shr = spill = 0.0
        n_tasks, skew = 0, 0.0
        for s in stages:
            tasks = stage_tasks.get(s, [])
            n_tasks += len(tasks)
            durs = []
            for t in tasks:
                m = t.get("Task Metrics") or {}
                run += _ms(m.get("Executor Run Time"))
                cpu += float(m.get("Executor CPU Time") or 0) / 1e9
                gc += _ms(m.get("JVM GC Time"))
                spill += _mb(m.get("Disk Bytes Spilled"))
                sw = m.get("Shuffle Write Metrics") or {}
                shw += _mb(sw.get("Shuffle Bytes Written"))
                sr = m.get("Shuffle Read Metrics") or {}
                shr += _mb(sr.get("Remote Bytes Read")) + _mb(sr.get("Local Bytes Read"))
                if stage_sub.get(s, "").startswith("save_state#"):
                    ckpt_bytes += float((m.get("Output Metrics") or {}).get("Bytes Written") or 0)
                info = t.get("Task Info") or {}
                durs.append(float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0)))
            if len(durs) >= 2:
                med = statistics.median(durs)
                if med > 0:
                    skew = max(skew, max(durs) / med)
            for acc in stage_acc.get(s, []):
                key = PY_ACCUMULABLES.get(acc.get("Name"))
                if key is not None:
                    py[key] += float(acc.get("Value") or 0)
        wall = op_walls.get(op, 0.0)
        out.update({
            f"{op}.jobs": float(len(jobs)),
            f"{op}.stages": float(len(stages)),
            f"{op}.tasks": float(n_tasks),
            f"{op}.job_busy_s": busy,
            f"{op}.driver_s": max(wall - busy, 0.0),
            f"{op}.exec_run_s": run,
            f"{op}.exec_cpu_s": cpu,
            f"{op}.gc_s": gc,
            f"{op}.shuffle_write_mb": shw,
            f"{op}.shuffle_read_mb": shr,
            f"{op}.spill_mb": spill,
            f"{op}.task_skew": skew,
        })
    out["kernels.py_run_s"] = py["py_run_s"] / 1000.0
    out["kernels.py_start_s"] = py["py_start_s"] / 1000.0
    out["kernels.py_init_s"] = py["py_init_s"] / 1000.0
    out["kernels.py_mb_sent"] = py["py_mb_sent"] / 1e6
    out["checkpoint.mb_written"] = ckpt_bytes / 1e6
    return out


def span_metrics(spans: Spans, ops) -> dict:
    """Counts and walls of the wrapped sub-span calls, per operator."""
    out: dict[str, float] = {}
    for op in ops:
        steps = [w for k, o, w in spans.calls if k == "materialize" and o == op]
        out[f"{op}.steps"] = float(len(steps))
        out[f"{op}.step_s_p50"] = statistics.median(steps) if steps else 0.0
    for kind, name in (("modularity", "modularity"), ("save_state", "checkpoint.save_state")):
        walls = [w for k, _, w in spans.calls if k == kind]
        out[f"{name}.calls"] = float(len(walls))
        out[f"{name}.s"] = float(sum(walls))
    return out


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    """Live descendants of `pid` (for the JVM: the Python worker daemon
    and its forked workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid:
                children.setdefault(int(ppid), []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds so far of this process, the JVM and the
    JVM's live descendants, each with its reaped children."""
    total = 0
    for pid in (os.getpid(), jvm_pid, *descendants(jvm_pid)):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the JVM plus that of every live descendant, in MB."""
    pids = [jvm_pid, *descendants(jvm_pid)]
    kb = sum(float(_status(p).get("VmHWM", "0 kB").split()[0]) for p in pids)
    return kb / 1024.0
