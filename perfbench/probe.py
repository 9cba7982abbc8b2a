"""Measurement from outside the program: the process tree read from
``/proc``, Spark's status store read over py4j, and SQL metrics read
from an executed physical plan.

Nothing here changes what the program computes; it only reads counters
Spark and the kernel already keep.
"""

from __future__ import annotations

import os
import time
from collections import deque
from dataclasses import dataclass, fields

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    """Direct children of ``pid`` from every thread's children list."""
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    todo = [os.getpid() if root is None else root]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process tree, including the
    children each live process has already reaped."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parts = stat[stat.rindex(")") + 2:].split()
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(v) for v in parts[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set
    (VmHWM) in MiB — an upper bound on the tree's peak at any instant."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


@dataclass
class StageTotals:
    """Task metrics summed over every stage attempt of a set of jobs."""

    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def __add__(self, other: "StageTotals") -> "StageTotals":
        return StageTotals(*(getattr(self, f.name) + getattr(other, f.name)
                             for f in fields(self)))


class StatusReader:
    """Per-job-group task metrics from the driver's AppStatusStore."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = self._sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _stage(self, stage_id: int) -> StageTotals:
        out = StageTotals()
        attempts = self._store.stageData(
            stage_id, False, self._no_status, False, self._no_quantiles
        ).iterator()
        while attempts.hasNext():
            d = attempts.next()
            out += StageTotals(
                gc_s=d.jvmGcTime() / 1e3,
                shuffle_write_bytes=d.shuffleWriteBytes(),
                spill_bytes=d.memoryBytesSpilled() + d.diskBytesSpilled(),
                tasks=d.numTasks(),
                failed_tasks=d.numFailedTasks(),
            )
        return out

    def totals(self, group: str) -> StageTotals:
        """Metrics of every job of ``group``, read after the listener bus
        has delivered every event."""
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        out = StageTotals()
        seen: set[int] = set()
        for j in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                if s not in seen:  # skipped stages repeat across jobs
                    seen.add(s)
                    out += self._stage(s)
        return out


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, SQL metric values) for every node of ``df``'s executed
    physical plan in breadth-first order from the root, walking through
    adaptive and query-stage wrappers. Call after the plan ran (see
    ``run_plan``)."""
    out: list[tuple[str, dict[str, int]]] = []
    todo = deque([df._jdf.queryExecution().executedPlan()])
    while todo:
        node = todo.popleft()
        name = str(node.nodeName())
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[str(kv._1())] = int(kv._2().value())
        out.append((name, metrics))
        if hasattr(node, "plan") and "QueryStage" in name:
            todo.append(node.plan())
        kids = node.children()
        for i in range(kids.size()):
            todo.append(kids.apply(i))
    return out


def run_plan(df) -> float:
    """Materialize ``df`` through its own query execution (so its plan
    keeps the SQL metrics ``plan_nodes`` reads); returns wall seconds."""
    t0 = time.perf_counter()
    df._jdf.queryExecution().toRdd().count()
    return time.perf_counter() - t0
