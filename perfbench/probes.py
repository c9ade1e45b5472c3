"""Measurement from outside the program: ``/proc`` for CPU time, and
Spark's own status store, query-execution tracker and streaming listener
for the per-layer counters. Nothing here patches or wraps program code.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root``'s process tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        fields = _stat(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class SparkStatus:
    """Job, stage and phase counters read from the live application."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._tracker = spark.sparkContext.statusTracker()

    def next_job(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    def settle(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> list[dict]:
        """Jobs ``first <= id < end`` with their stage metrics summed."""
        store = self._jsc.statusStore()
        out = []
        for jid in range(first, end):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {"id": jid,
                   "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                   "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                   "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                   "input_b": 0, "output_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0}
            for sid in self._tracker.getJobInfo(jid).stageIds:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                job["stages"] += 1
                job["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                job["run_s"] += sd.executorRunTime() / 1e3
                job["cpu_s"] += sd.executorCpuTime() / 1e9
                job["gc_s"] += sd.jvmGcTime() / 1e3
                job["input_b"] += sd.inputBytes()
                job["output_b"] += sd.outputBytes()
                job["shuffle_read_b"] += sd.shuffleReadBytes()
                job["shuffle_write_b"] += sd.shuffleWriteBytes()
            out.append(job)
        return out

    @staticmethod
    def phases_ms(df) -> dict[str, int]:
        """Catalyst phase times of ``df``'s own QueryExecution."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = opt.get().durationMs() if opt.isDefined() else 0
        return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class StreamRecorder(StreamingQueryListener):
    """Micro-batch durations and state rows of every streaming query; ``at``
    is the batch's trigger start."""

    def __init__(self) -> None:
        self.started = 0
        self.terminated = 0
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append({
            "at": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "ms": p.durationMs.get("triggerExecution", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated += 1

    def drain(self, timeout_s: float = 10.0) -> None:
        """Wait until every started query's termination has been delivered."""
        deadline = time.monotonic() + timeout_s
        while self.terminated < self.started and time.monotonic() < deadline:
            time.sleep(0.05)


class Tracer:
    """Spans kept in memory: name, start, end, parent and operation id, plus
    the Spark job-id range each span covers. Inert when ``enabled`` is false,
    so the untraced run makes no extra calls into Spark."""

    def __init__(self, status: SparkStatus | None) -> None:
        self.status = status
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.status is not None

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "op": op, "parent": self._stack[-1] if self._stack else None,
               "job0": self.status.next_job(), "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["job1"] = self.status.next_job()
            self._stack.pop()
