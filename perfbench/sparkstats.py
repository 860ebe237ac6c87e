"""Spark counters read from outside the engine, plus process memory.

Two sources, both available with ``spark.ui.enabled=false``:

* the SQL status store (``SharedState.statusStore``): every SQL execution's
  plan graph with its per-operator metrics. This covers executions the
  engine starts internally (e.g. the collects inside ``Engine.query``), not
  only the frame the benchmark writes;
* ``SparkContext.statusTracker``: job, stage and task counts of one job
  group.

Metric values come back as the UI's formatted strings ("1,234",
"12.5 MiB", "total (min, med, max ...)\\n3.2 s (...)"); ``_parse`` turns
them back into numbers (bytes for sizes, ms for timings).
"""

from __future__ import annotations

import os
import re

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def _parse(text: str) -> float:
    """A formatted SQL metric → number. Multi-line values carry the total on
    the line after the "total (min, med, max)" header."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.split()
    num = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return num
    unit = parts[1]
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_MS:
        return num * _TIME_MS[unit]
    raise ValueError(f"unknown SQL metric unit in {text!r}")


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Reads the status stores of one SparkSession."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def next_execution_id(self) -> int:
        return int(self._sql.executionsCount())

    def executions(self, first: int, end: int | None = None) -> list[list[tuple[str, dict]]]:
        """One list per SQL execution with first <= id < end, holding
        (operator name, {metric name: value}) per plan node, root first."""
        out = []
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid < first or (end is not None and eid >= end):
                continue
            values = self._sql.executionMetrics(eid)
            ops = []
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                ms = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = _parse(v.get())
                ops.append((node.name(), ms))
            out.append(ops)
        return out

    def job_counts(self, group: str) -> dict[str, int]:
        """Jobs, stages that ran at least one task, and tasks run."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = tasks = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                ran += 1
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def metric_sum(execs, operator: str, metric: str) -> float:
    """Sum of one metric over every operator, in every execution, whose name
    starts with `operator` ("" matches all)."""
    return sum(
        m.get(metric, 0.0)
        for ops in execs
        for name, m in ops
        if name.startswith(operator)
    )


def root_rows(execs) -> float:
    """Summed output rows of each execution's root: the first operator that
    counts its rows."""
    total = 0.0
    for ops in execs:
        for _, m in ops:
            if "number of output rows" in m:
                total += m["number of output rows"]
                break
    return total


def _tree_pids() -> list[int]:
    """This process and every descendant: the Spark JVM and its Python
    workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss() -> None:
    """Restart the peak resident set of every process in the tree at its
    current size, so peak_rss_mb() covers what runs after this call."""
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError):
            pass  # exited since the tree was listed


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) summed over the process tree, in MiB."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                m = re.search(r"^VmHWM:\s+(\d+) kB", f.read(), re.M)
        except OSError:
            continue
        if m:
            total_kb += int(m.group(1))
    return total_kb / 1024.0

