"""Reduce an uncompressed Spark event log to per-job-group totals.

Stages map to the job group of the first job that lists them (a stage
runs its tasks in the job that created it; later jobs only skip it).
Each ``SparkListenerTaskEnd`` then adds its task metrics to that group.
SQL metrics arrive as task accumulator updates; the plan of every SQL
execution, including each adaptive re-plan, names the node and the
metric behind each accumulator id, so a group's updates can be summed
by metric name and plan-node name (e.g. "data sent to Python workers",
or "number of output rows" of join nodes).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass, field

JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin")

_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class GroupStats:
    tasks: int = 0
    retries: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    gc_s: float = 0.0
    #: stage id -> executor run time of each task, ms
    stage_task_ms: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))
    #: (plan node name, metric name) -> summed task updates
    sql: dict[tuple[str, str], float] = field(default_factory=lambda: defaultdict(float))

    def task_skew(self) -> float:
        """max / median task run time in the group's busiest stage."""
        if not self.stage_task_ms:
            return 0.0
        times = max(self.stage_task_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0

    def sql_sum(self, metric: str, node_prefix: tuple[str, ...] | None = None) -> float:
        return sum(
            v for (node, name), v in self.sql.items()
            if name == metric and (node_prefix is None or node.startswith(node_prefix))
        )


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    todo = [info]
    while todo:
        node = todo.pop()
        for m in node.get("metrics", ()):
            out[m["accumulatorId"]] = (node["nodeName"], m["name"])
        todo.extend(node.get("children", ()))


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def reduce_events(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Per job group totals; jobs without a group are dropped."""
    events = list(events)
    stage_group: dict[int, str | None] = {}
    acc_node: dict[int, tuple[str, str]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind in _SQL_PLAN_EVENTS:
            _plan_metrics(ev["sparkPlanInfo"], acc_node)

    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(ev["Stage ID"])
        if group is None:
            continue
        g = groups[group]
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        g.tasks += 1
        g.retries += int(info.get("Attempt", 0) > 0 or bool(info.get("Failed")))
        run_ms = _num(m.get("Executor Run Time"))
        g.run_s += run_ms / 1e3
        g.cpu_s += _num(m.get("Executor CPU Time")) / 1e9
        g.gc_s += _num(m.get("JVM GC Time")) / 1e3
        g.spill_b += _num(m.get("Disk Bytes Spilled"))
        g.fetch_wait_s += _num((m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time")) / 1e3
        g.shuffle_write_b += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
        g.stage_task_ms[ev["Stage ID"]].append(run_ms)
        for acc in info.get("Accumulables", ()):
            key = acc_node.get(acc.get("ID"))
            if key is not None:
                g.sql[key] += _num(acc.get("Update"))
    return dict(groups)


def read_events(path: str) -> Iterable[dict]:
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def reduce_dir(events_dir: str) -> dict[str, GroupStats]:
    """Reduce the event log of the one application under ``events_dir``
    (a plain file, or the directory of a rolling log)."""
    paths = sorted(
        os.path.join(dp, f)
        for dp, _dirs, files in os.walk(events_dir)
        for f in files
        if not f.startswith((".", "appstatus"))
    )
    return reduce_events(e for p in paths for e in read_events(p))
