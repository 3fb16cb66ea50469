"""Measurement plumbing shared by the workloads.

* :class:`ProcTree` — CPU time of this process and every descendant
  (the Spark JVM and its Python workers), read from ``/proc``.
* :class:`Tracer` — in-memory spans (name, start, end, parent, op id)
  recorded around the benchmark's calls into the program's modules.
  Only the traced mode creates one; untraced runs carry no wrappers.
* :func:`spark_op_metrics` — per-operation Spark engine counters read
  from the local status REST API after the timed phase.
* :func:`plan_python_metrics` — Python-worker time and bytes of an
  executed plan, for the streaming micro-batches the REST API misses.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from datetime import datetime

CLK_TCK = os.sysconf("SC_CLK_TCK")


def since_process_start() -> float:
    """Seconds since this process was exec'd (kernel start time)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / CLK_TCK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class ProcTree:
    """This process and its descendants, found by parent pid."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _fields(self) -> dict[int, list[str]]:
        parent: dict[int, int] = {}
        fields: dict[int, list[str]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    parent[int(name)] = int(st[1])
                    fields[int(name)] = st
        tree, frontier = {self.root}, [self.root]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), ()):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return {p: fields[p] for p in tree if p in fields}

    def cpu_seconds(self) -> float:
        """User + system CPU of the live tree, plus what its members have
        reaped from exited children (cutime/cstime)."""
        ticks = 0
        for st in self._fields().values():
            ticks += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        return ticks / CLK_TCK


# -- tracing -----------------------------------------------------------------


class Tracer:
    """Spans held in memory, written out once at the end of the run.

    A span's parent is the innermost open span on the same thread, or
    the current operation's root span when the thread has none (the
    streaming ``foreachBatch`` callback runs on its own thread)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.op: int | None = None
        self.op_span: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "op": self.op, "parent": parent,
                 "start": time.perf_counter(), "end": None}
            )
        stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield
        finally:
            self.end(sid)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def wrap_count(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        def counted(*args, **kwargs):
            self.count(name)
            return fn(*args, **kwargs)

        setattr(owner, attr, counted)

    def start_op(self, op: int) -> None:
        self.op = op
        self.op_span = self.begin("op")

    def end_op(self) -> None:
        self.end(self.op_span)
        self.op, self.op_span = None, None

    def per_op_ms(self, name: str, n_ops: int) -> float:
        """Summed duration of ``name`` spans inside timed ops, per op."""
        return sum(
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and s["op"] is not None and s["end"] is not None
        ) / max(1, n_ops)

    def within_ms(self, ancestor: str, name: str) -> float:
        """Summed duration of ``name`` spans below the first ``ancestor`` span."""
        top = next((s["id"] for s in self.spans if s["name"] == ancestor), None)
        total = 0.0
        for s in self.spans:
            p = s["parent"]
            while p is not None and p != top:
                p = self.spans[p]["parent"]
            if p is not None and s["name"] == name and s["end"] is not None:
                total += (s["end"] - s["start"]) * 1000.0
        return total

    def self_ms(self, name: str) -> list[float]:
        """Per-span self time (duration minus what child spans cover)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            covered, cur = 0.0, None
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"])
                if cur is not None and a < cur:
                    a = cur
                if b > a:
                    covered += b - a
                    cur = b
            out.append((s["end"] - s["start"] - covered) * 1000.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f)


# -- Spark engine counters ---------------------------------------------------

_TIME_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _ui_time_ms(stamp: str) -> float:
    """'2026-10-19T08:50:01.123GMT' -> epoch milliseconds."""
    dt = datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return dt.timestamp() * 1000.0


def _sql_metric(value: str, units: dict[str, float]) -> float:
    """First total in a SQL UI metric string ('total (min, med, max)\\n1.2 s (...)')."""
    line = value.split("\n", 1)[-1] if "\n" in value else value
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * units.get(m.group(2), 1.0)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_op_metrics(spark, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Per-operation means of the jobs, tasks and stage counters whose
    jobs (or SQL executions) were submitted inside an op's wall-clock
    window ``(start_ms, end_ms)``; ops run one at a time, so a window
    attributes its jobs without tagging them."""
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications"
    app = _get(base)[0]["id"]
    jobs = _get(f"{base}/{app}/jobs")
    stages = {s["stageId"]: s for s in _get(f"{base}/{app}/stages") if s["status"] == "COMPLETE"}
    sql = _get(f"{base}/{app}/sql?details=true&planDescription=false&offset=0&length=100000")

    def inside(stamp: str) -> bool:
        t = _ui_time_ms(stamp)
        return any(a <= t <= b for a, b in windows)

    tot = dict.fromkeys(
        ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle", "spill", "py_ms", "py_bytes"), 0.0
    )
    for j in jobs:
        if "submissionTime" not in j or not inside(j["submissionTime"]):
            continue
        tot["jobs"] += 1
        tot["tasks"] += j.get("numTasks", 0) - j.get("numSkippedTasks", 0)
        for sid in j.get("stageIds", ()):
            s = stages.get(sid)
            if s is None:
                continue
            tot["run_ms"] += s.get("executorRunTime", 0)
            tot["cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
            tot["gc_ms"] += s.get("jvmGcTime", 0)
            tot["shuffle"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
            tot["spill"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
    for ex in sql:
        if not inside(ex["submissionTime"]):
            continue
        for node in ex.get("nodes", ()):
            for m in node.get("metrics", ()):
                name = m["name"]
                if name == "time to run Python workers":
                    tot["py_ms"] += _sql_metric(m["value"], _TIME_UNITS)
                elif name in ("data sent to Python workers", "data returned from Python workers"):
                    tot["py_bytes"] += _sql_metric(m["value"], _SIZE_UNITS)
    n = max(1, len(windows))
    return {
        "session.jobs_per_op": tot["jobs"] / n,
        "session.tasks_per_op": tot["tasks"] / n,
        "session.executor_run_ms_per_op": tot["run_ms"] / n,
        "session.executor_cpu_ms_per_op": tot["cpu_ms"] / n,
        "session.gc_ms_per_op": tot["gc_ms"] / n,
        "session.shuffle_bytes_per_op": tot["shuffle"] / n,
        "session.spill_bytes_per_op": tot["spill"] / n,
        "session.python_worker_ms_per_op": tot["py_ms"] / n,
        "session.python_bytes_per_op": tot["py_bytes"] / n,
    }


def plan_python_metrics(plan) -> tuple[float, float]:
    """(ms running Python workers, bytes sent to and returned from them)
    summed over the nodes of an executed JVM ``SparkPlan``, read through
    py4j.  A streaming query's stateful Python node reports here, on the
    micro-batch's ``IncrementalExecution``: the ``foreachBatch`` jobs run
    it as an RDD, so the ``/sql`` REST API shows no metrics for it."""
    ms, size, found = 0.0, 0.0, False
    stack = [plan]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        if metrics.contains("pythonTotalTime"):
            found = True
            ms += metrics.apply("pythonTotalTime").value()
            for k in ("pythonDataSent", "pythonDataReceived"):
                if metrics.contains(k):
                    size += metrics.apply(k).value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    if not found:
        raise RuntimeError("no Python node in the executed plan")
    return ms, size


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
