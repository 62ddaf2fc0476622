"""Measurement from outside the program: spans, counts, Spark status.

The untraced run uses only :class:`Tracer` with ``enabled=False`` (every
span is a no-op) plus the op latencies the workloads time themselves.
The traced run also keeps spans and counts in memory and reads Spark's
built-in status: the query-execution tracker, the status store and
the job groups this benchmark sets itself.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Spans (name, start, end, parent, op) and per-op counts, in memory
    until :meth:`dump`."""

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name].append(value)

    def total(self, name: str) -> float:
        """Summed duration of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def per_op(self, name: str, n_ops: int) -> float:
        """Mean per operation of a span's duration or of a count."""
        if name in self.counts:
            return sum(self.counts[name]) / max(n_ops, 1)
        return self.total(name) / max(n_ops, 1)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans, "counts": self.counts}, f)


class Py4jCounter:
    """Counts commands the Python driver sends to the JVM, by wrapping the
    Py4J client of the session's gateway."""

    def __init__(self, spark):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send


def tracker_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) recorded by the query's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics of every job in ``group``,
    from the status store once the listener bus has drained."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = dict.fromkeys(
        (
            "stages",
            "tasks",
            "scheduler_delay_s",
            "executor_run_s",
            "executor_cpu_s",
            "shuffle_write_bytes",
            "shuffle_read_bytes",
            "spill_bytes",
        ),
        0.0,
    )
    out["jobs"] = float(len(jobs))
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage never ran
            continue
        if str(sd.status().toString()) != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
        for i in range(tasks.size()):
            out["scheduler_delay_s"] += tasks.apply(i).schedulerDelay() / 1e3
    return out


def plan_nodes(df):
    """Every node of the query's executed physical plan, descending into
    adaptive query stages and reused exchanges."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "ReusedExchangeExec":
            todo.append(node.child())
        else:
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))


def metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``: for the JVM, the Python worker
    daemon and the workers it forked."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of the given processes, MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def process_start() -> float:
    """This process's start, on the ``time.clock_gettime(CLOCK_BOOTTIME)``
    clock (seconds since boot)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")
