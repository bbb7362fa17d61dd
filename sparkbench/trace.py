"""Span tracer and Spark event-log reducer for the traced run.

A span wraps a call into one layer's public functions. Entering a span
sets the Spark job group to the span's id, so every job the layer runs
carries it; the event log is then reduced per job group. A span's self
time is its duration minus the part covered by its child spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _next: int = 0

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        s = Span(f"span-{self._next}-{name}", name,
                 parent.id if parent else None, time.monotonic())
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                parent.child_s += s.duration
            self._set_group(parent)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_s(self, name: str) -> float:
        return sum(s.self_s for s in self.by_name(name))

    def group_ids(self, name: str) -> list[str]:
        return [s.id for s in self.by_name(name)]


# ---------------------------------------------------------------------------
# event log

# Spark reports Python UDF worker time as this SQL metric (milliseconds)
_PY_TIME = "time to run Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_cpu_s: float = 0.0
    task_run_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0
    run_ms: list[int] = field(default_factory=list)
    # JVM entry method of each SQL execution the group's jobs ran for
    actions: dict[int, str] = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "tasks", "failed_tasks", "task_cpu_s", "task_run_s",
                  "scheduler_delay_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "python_s"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.run_ms.extend(other.run_ms)
        self.actions.update(other.actions)

    def count_actions(self, method: str) -> int:
        """SQL executions started by ``method`` (e.g. ``Dataset.count``)."""
        return sum(m == method for m in self.actions.values())

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task, per the span's tasks."""
        if not self.run_ms:
            return 0.0
        med = statistics.median(self.run_ms)
        return max(self.run_ms) / med if med > 0 else float(max(self.run_ms) > 0)


def find_event_log(directory: str) -> str:
    files = [p for p in glob.glob(os.path.join(directory, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    return files[0]


def reduce_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group: jobs, task CPU/run time, scheduler delay (the wait
    between a task's launch and its run), shuffle bytes, spill, failed
    tasks and Python worker time."""
    stage_group: dict[int, str] = {}
    sql_method: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                # details is the JVM stack; its first frame names the action
                top = (e.get("details") or "").split("\n", 1)[0].split("(", 1)[0]
                sql_method[e["executionId"]] = ".".join(top.rsplit(".", 2)[-2:])
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g is None:
                    continue
                st = out.setdefault(g, GroupStats())
                st.jobs += 1
                xid = props.get("spark.sql.execution.id")
                if xid is not None and int(xid) in sql_method:
                    st.actions[int(xid)] = sql_method[int(xid)]
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                if g is None:
                    continue
                st = out[g]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                st.tasks += 1
                if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
                    st.failed_tasks += 1
                run = m.get("Executor Run Time", 0)
                st.run_ms.append(run)
                st.task_run_s += run / 1e3
                st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                wall = info["Finish Time"] - info["Launch Time"]
                other = (run + m.get("Executor Deserialize Time", 0)
                         + m.get("Result Serialization Time", 0)
                         + info.get("Getting Result Time", 0))
                st.scheduler_delay_s += max(0, wall - other) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                st.shuffle_read_bytes += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == _PY_TIME:
                        st.python_s += float(acc.get("Update", 0) or 0) / 1e3
    return out


def merge(stats: dict[str, GroupStats], ids: list[str]) -> GroupStats:
    total = GroupStats()
    for i in ids:
        if i in stats:
            total.add(stats[i])
    return total
