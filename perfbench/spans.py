"""Tracing from outside the program: spans, Spark job groups, and a fold of
Spark's event log into per-span engine counters.

A span wraps one public call of the package. While it is open, the Spark
job group is set to the span's id, so every job the call launches from the
driver thread is attributed to it in the event log. Spans are kept in
memory and folded once the session has stopped and the log is complete.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass

GROUP_PREFIX = "perfbench:"

# Engine counters reported per span, per call.
COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "python_s",
    "gc_s", "shuffle_write_mb", "result_mb",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    value: object = None  # what the wrapped call returned, for ratios

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and sets the Spark job group of the driver thread to
    the innermost open span."""

    def __init__(self, sc):
        self.sc = sc
        self.started_ms = time.time() * 1e3
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._set_group("harness")

    def _set_group(self, gid: str) -> None:
        self.sc.setJobGroup(GROUP_PREFIX + gid, gid, interruptOnCancel=False)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._open[-1].id if self._open else None,
                 time.perf_counter())
        self.spans.append(s)
        self._open.append(s)
        self._set_group(str(s.id))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._set_group(str(self._open[-1].id) if self._open else "harness")

    def spanned(self, name: str, fn):
        """``fn`` run inside span ``name``, which keeps its return value."""

        @functools.wraps(fn)
        def call(*a, **kw):
            with self.span(name) as s:
                s.value = fn(*a, **kw)
                return s.value

        return call

    def innermost(self) -> str | None:
        return self._open[-1].name if self._open else None

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def ancestors(self, span_id: int):
        """The span and every span enclosing it."""
        while span_id is not None:
            s = self.spans[span_id]
            yield s
            span_id = s.parent


def event_log_conf(log_dir: str) -> dict:
    """Session settings for a plain-JSON, single-file event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold_event_log(log_dir: str, tracer: Tracer, span_names) -> tuple[dict, int]:
    """Per-call engine counters for each span name in ``span_names``.

    Every task is charged to the job that ran its stage, every job to the
    span whose group it carried, and each span's counters roll up into the
    spans enclosing it. Returns ``{name: {counter: value per call}}`` and
    the number of jobs, submitted once the tracer existed, that carried no
    group of this benchmark: they were launched from a thread other than
    the driver's, which does not inherit its job group.
    """
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    per_job = {}
    unattributed = 0
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not gid.startswith(GROUP_PREFIX) and ev["Submission Time"] >= tracer.started_ms:
                    unattributed += 1
                tail = gid[len(GROUP_PREFIX):]
                job_span[jid] = int(tail) if tail.isdigit() else None
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
                per_job[jid] = dict.fromkeys(COUNTERS, 0.0)
                per_job[jid]["jobs"] = 1.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                c = per_job[jid]
                run_s = m["Executor Run Time"] / 1e3
                cpu_s = m["Executor CPU Time"] / 1e9
                c["tasks"] += 1
                c["executor_run_s"] += run_s
                c["executor_cpu_s"] += cpu_s
                c["python_s"] += max(run_s - cpu_s, 0.0)
                c["gc_s"] += m["JVM GC Time"] / 1e3
                c["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                c["result_mb"] += m["Result Size"] / 2**20

    totals = {name: dict.fromkeys(COUNTERS, 0.0) for name in span_names}
    for jid, sid in job_span.items():
        if sid is None:
            continue
        for s in tracer.ancestors(sid):
            if s.name in totals:
                for k, v in per_job[jid].items():
                    totals[s.name][k] += v
    out = {}
    for name, t in totals.items():
        calls = max(len(tracer.named(name)), 1)
        out[name] = {k: v / calls for k, v in t.items()}
    return out, unattributed


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# Name prefixes of the JVM's JIT compiler threads. The benchmark's JVM runs
# with a fixed number of them, started with it, so that none exits and takes
# its CPU time out of the sum they are subtracted from.
JIT_THREADS = ("C1 Compiler", "C2 Compiler")
_jit_tids: dict[int, list[str]] = {}


def _ticks(stat: str, fields: slice) -> int:
    """Sum of the given fields of a /proc stat line, counted after "(comm)"."""
    return sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[fields])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of JVM ``pid``."""
    task = f"/proc/{pid}/task"
    if pid not in _jit_tids:
        tids = []
        for tid in os.listdir(task):
            with open(f"{task}/{tid}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    tids.append(tid)
        _jit_tids[pid] = tids
    total = 0
    for tid in _jit_tids[pid]:
        with open(f"{task}/{tid}/stat") as f:
            total += _ticks(f.read(), slice(11, 13))
    return total


def tree_cpu_s() -> float:
    """CPU seconds, user and system, spent so far by this process and every
    process below it: here the driver, Spark's JVM and its Python workers.
    The children each has reaped count too, so the total stays whole when a
    worker exits. Time the hypervisor stole is not in it, and neither is any
    other program's.

    The JVM's JIT compiler threads are left out. They compile in the
    background, at moments that differ from run to run, and on a fresh JVM
    they spend as much CPU as a lookup does; that is warm-up cost, not the
    cost of the operation running meanwhile."""
    parent, used, jvms = {}, {}, set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process has exited
            continue
        # the fields after "(comm)": state ppid ... utime stime cutime cstime
        parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
        used[int(d)] = _ticks(stat, slice(11, 15))
        if stat[stat.index("(") + 1:stat.rindex(")")] == "java":
            jvms.add(int(d))
    children = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0) - (_jit_ticks(pid) if pid in jvms else 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor stole between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already counted in user/nice
    return d[7] / total if total > 0 and len(d) > 7 else 0.0
