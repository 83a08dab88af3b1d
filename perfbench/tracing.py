"""Benchmark-side observation: in-memory spans, the Spark event log and
the process tree.

Spans are recorded from this package only, by swapping attributes of
the program's public functions (``Tracer.wrap``); nothing in the
program is edited. The event log is the one Spark writes when
``spark.eventLog.enabled`` is set; it is parsed offline with ``json``.
Process figures come from ``/proc``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time


# ----------------------------------------------------------------- spans

class Tracer:
    """Spans kept in memory: name, start, end, parent index, attrs.

    ``enabled`` is switched per timed op, so one run can alternate
    traced and untraced ops of the same kind (the overhead ratio)."""

    def __init__(self) -> None:
        self.spans: list = []
        self.enabled = False
        self._stack: list = []
        self._undo: list = []

    def begin(self, name: str, **attrs) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent, "attrs": attrs})
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span when tracing is on."""
        if not self.enabled:
            return fn(*args, **kwargs)
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, owner, attr: str, name: str, attrs_fn=None,
             after_fn=None) -> None:
        """Swap ``owner.attr`` for a spanning wrapper. ``attrs_fn(args,
        kwargs)`` runs before the call and ``after_fn()`` after it; both
        return facts to keep on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            attrs = attrs_fn(args, kwargs) if attrs_fn else {}
            idx = tracer.begin(name, **attrs)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(idx)
                if after_fn:
                    tracer.spans[idx]["attrs"].update(after_fn())

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_method(self, cls, attr: str, package: str) -> None:
        """Span every ``cls.attr`` call made directly from the program's
        own modules (e.g. ``DataFrame.collect``), tagged with the
        calling function."""
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def method(obj, *args, **kwargs):
            if tracer.enabled:
                frame = sys._getframe(1)
                if frame.f_globals.get("__name__", "").startswith(package):
                    idx = tracer.begin(attr, caller=frame.f_code.co_name)
                    try:
                        return orig(obj, *args, **kwargs)
                    finally:
                        tracer.end(idx)
            return orig(obj, *args, **kwargs)

        self._undo.append((cls, attr, orig))
        setattr(cls, attr, method)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def children(self, idx: int) -> list:
        return [s for s in self.spans[idx + 1:] if s["parent"] == idx]

    def descendants(self, idx: int) -> list:
        out, inside = [], {idx}
        for j in range(idx + 1, len(self.spans)):
            if self.spans[j]["parent"] in inside:
                inside.add(j)
                out.append(self.spans[j])
        return out


def dur(span: dict) -> float:
    return span["end"] - span["start"]


# ------------------------------------------------------------ event log

_METRIC_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"],
                                   m.get("metricType", "sum"))
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def parse_event_log(log_dir: str) -> dict:
    """op tag -> Spark figures for the jobs that ran under it.

    Ops are tagged with the ``perfbench.op`` local property, which Spark
    copies into every job's properties. Stage, task and SQL-metric
    events are joined to ops through job ids and SQL execution ids."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith(
                (".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    acc_meta: dict = {}
    stage_op: dict = {}
    exec_op: dict = {}
    ops: dict = {}

    def op_rec(op):
        return ops.setdefault(op, {
            "jobs": 0, "tasks": 0, "stage_tasks": {}, "cpu_s": 0.0,
            "gc_s": 0.0, "spill_mb": 0.0, "shuffle_write_mb": 0.0,
            "sql": {}})

    def add_sql(op, acc_id, value):
        meta = acc_meta.get(acc_id)
        if meta is None:
            return
        node, name, kind = meta
        key = (node, name)
        rec = op_rec(op)["sql"]
        rec[key] = rec.get(key, 0.0) + float(value) * _METRIC_SCALE.get(
            kind, 1.0)

    pending_sql: list = []
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], acc_meta)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            op = props.get("perfbench.op")
            if not op:
                continue
            op_rec(op)["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_op[sid] = op
            if "spark.sql.execution.id" in props:
                exec_op[int(props["spark.sql.execution.id"])] = op
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e["Stage ID"])
            if op is None:
                continue
            rec = op_rec(op)
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            rec["tasks"] += 1
            rec["stage_tasks"].setdefault(e["Stage ID"], []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
            rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rec["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
            rec["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics", {})
                                        .get("Shuffle Bytes Written", 0)
                                        / 2**20)
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    add_sql(op, acc["ID"], acc["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            pending_sql.append(e)
    for e in pending_sql:
        op = exec_op.get(e["executionId"])
        if op is not None:
            for acc_id, value in e["accumUpdates"]:
                add_sql(op, acc_id, value)
    return ops


def sql_sum(op_stats: dict, node: str, name: str) -> float:
    return sum(v for (n, m), v in op_stats["sql"].items()
               if n == node and m == name)


def skew_ratio(op_stats: dict) -> float:
    """max / median task time of the op's busiest stage."""
    stages = [t for t in op_stats["stage_tasks"].values() if t]
    if not stages:
        return 0.0
    busiest = max(stages, key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 1.0


# --------------------------------------------------------- process tree

def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _stat(pid: int):
    """(ppid, starttime, cpu_s incl. reaped children) of a live
    process, or None (gone, or a zombie)."""
    raw = _read(f"/proc/{pid}/stat")
    if not raw:
        return None
    fields = raw[raw.rfind(")") + 2:].split()
    if fields[0] in ("Z", "X"):
        return None
    tick = os.sysconf("SC_CLK_TCK")
    cpu = sum(int(x) for x in fields[11:15]) / tick
    return int(fields[1]), int(fields[19]), cpu


def _pss_mb(pid: int) -> float:
    for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) / 1024
    return 0.0


def _role(pid: int) -> str:
    cmd = _read(f"/proc/{pid}/cmdline").replace("\0", " ")
    if "java" in cmd.split(" ", 1)[0] or "org.apache.spark" in cmd:
        return "jvm"
    return "python"


class ProcessTree:
    """Samples the PSS of this process and all its descendants on a
    background thread, and reads their CPU time on demand."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.root = os.getpid()
        self.period_s = period_s
        self.peak = {"jvm": 0.0, "python": 0.0}
        self.op_peak = 0.0            # peak since the last start_op()
        self._lock = threading.Lock()
        self.seen: dict = {}          # pid -> starttime
        self._roles: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def descendants(self) -> list:
        parent = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st:
                    parent[int(name)] = st
        out, frontier = [], {self.root}
        while frontier:
            nxt = {p for p, st in parent.items() if st[0] in frontier}
            out.extend((p, parent[p]) for p in nxt)
            frontier = nxt
        for pid, st in out:
            if pid not in self.seen:
                self.seen[pid] = st[1]
                self._roles[pid] = _role(pid)
        return out

    def start_op(self) -> None:
        with self._lock:
            self.op_peak = 0.0

    def sample(self) -> None:
        with self._lock:
            by_role = {"jvm": 0.0, "python": 0.0}
            for pid, _st in self.descendants():
                by_role[self._roles[pid]] += _pss_mb(pid)
            total = _pss_mb(self.root) + by_role["jvm"] + by_role["python"]
            for role, value in by_role.items():
                self.peak[role] = max(self.peak[role], value)
            self.op_peak = max(self.op_peak, total)

    def cpu(self) -> dict:
        """CPU seconds so far of the JVM and of the Python workers (their
        own time plus that of workers they reaped)."""
        out = {"jvm": 0.0, "python": 0.0}
        with self._lock:
            for pid, st in self.descendants():
                out[self._roles[pid]] += st[2]
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def wait_gone(self, timeout_s: float = 60.0) -> list:
        """Wait until every descendant ever seen has exited; SIGKILL what
        is left at the deadline. Returns the pids that had to be killed."""
        import signal

        def alive():
            return [pid for pid, start in self.seen.items()
                    if (_stat(pid) or (0, None))[1] == start]

        deadline = time.monotonic() + timeout_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        killed = alive()
        for pid in killed:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        return killed
