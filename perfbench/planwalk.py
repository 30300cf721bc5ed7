"""Spans around calls into the program, and what Spark recorded for them.

A `Tracer` span sets a Spark job group for the calls it wraps and notes
which SQL executions started inside it.  After the span it reads, from
outside the program and with the UI off:

- the executed plan of each SQL execution, as Spark's SQL status store
  keeps it: the AQE final plan with its query stages, one `PlanNode` per
  operator with its SQLMetrics (`Tracer.execution`);
- the task metrics of every stage of the span's jobs, through the status
  tracker's job -> stage ids and the app status store's last stage attempt
  (`stage_totals`).

SQLMetrics reach the status store as formatted strings ("20,000",
"264.4 KiB", "total (min, med, max ...)\\n3.2 s (...)"); `parse_metric`
turns one back into a number in bytes, seconds or a count.  Sizes keep
0.1 of their unit, times above one second keep 0.1 s.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float | None:
    """Total of one formatted SQLMetric; None for averages and unknown forms."""
    if text.startswith("("):
        return None
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.match(body)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        return None
    return value * _UNITS[unit]


@dataclass
class PlanNode:
    id: int
    name: str
    desc: str
    metrics: dict[str, float]
    children: list[int] = field(default_factory=list)


@dataclass
class Execution:
    id: int
    wall_s: float
    nodes: dict[int, PlanNode]

    def find(self, name: str) -> list[PlanNode]:
        return [n for n in self.nodes.values() if n.name == name]

    def below(self, node: PlanNode) -> list[PlanNode]:
        out, todo = [], list(node.children)
        while todo:
            n = self.nodes[todo.pop()]
            out.append(n)
            todo.extend(n.children)
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    group: str
    executions: list[int]

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def metric_sum(nodes, metric: str) -> float:
    return sum(n.metrics.get(metric, 0.0) for n in nodes)


class Tracer:
    """Spans recorded in memory; `dump` writes them out at the end."""

    IDLE_GROUP = "perfbench-idle"

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._started = 0

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"pb{self._started}-{name}"
        self._started += 1
        self._drain()
        first_exec = self.sql_store.executionsCount()
        sp = Span(name, time.perf_counter(), 0.0,
                  parent.group if parent else None, group, [])
        self._stack.append(sp)
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent.group if parent else self.IDLE_GROUP,
                                parent.name if parent else "idle")
            self._drain()
            sp.executions = list(range(first_exec, self.sql_store.executionsCount()))
            self.spans.append(sp)

    def execution(self, eid: int) -> Execution:
        # the end event of an execution can reach the store just after
        # the action returned
        deadline = time.perf_counter() + 10
        while True:
            ui = self.sql_store.execution(eid).get()
            done = ui.completionTime()
            if done.isDefined() or time.perf_counter() > deadline:
                break
            time.sleep(0.05)
            self._drain()
        wall = ((done.get().getTime() - ui.submissionTime()) / 1000.0
                if done.isDefined() else float("nan"))
        values = self.sql_store.executionMetrics(eid)
        graph = self.sql_store.planGraph(eid)
        nodes: dict[int, PlanNode] = {}
        jnodes = graph.allNodes()
        for i in range(jnodes.size()):
            jn = jnodes.apply(i)
            metrics = {}
            jms = jn.metrics()
            for k in range(jms.size()):
                jm = jms.apply(k)
                v = values.get(jm.accumulatorId())
                if v.isDefined():
                    parsed = parse_metric(v.get())
                    if parsed is not None:
                        metrics[jm.name()] = parsed
            nodes[int(jn.id())] = PlanNode(int(jn.id()), jn.name(), jn.desc(), metrics)
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            # edges run from child to parent
            nodes[int(e.toId())].children.append(int(e.fromId()))
        return Execution(eid, wall, nodes)

    def executions(self, span: Span) -> list[Execution]:
        return [self.execution(e) for e in span.executions]

    def groups_under(self, span: Span) -> list[str]:
        groups, todo = [], [span.group]
        while todo:
            g = todo.pop()
            groups.append(g)
            todo.extend(s.group for s in self.spans if s.parent == g)
        return groups

    def stage_totals(self, span: Span) -> dict[str, float]:
        """Task metrics summed over every stage attempt the span's jobs ran."""
        tracker = self.sc.statusTracker()
        jobs = [j for g in self.groups_under(span) for j in tracker.getJobIdsForGroup(g)]
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tot = {"jobs": float(len(jobs)), "tasks": 0.0, "task_s": 0.0, "gc_s": 0.0,
               "spill_bytes": 0.0}
        for sid in stages:
            try:
                st = self.app_store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran
                continue
            if st.numCompleteTasks() == 0:
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["task_s"] += st.executorRunTime() / 1000.0
            tot["gc_s"] += st.jvmGcTime() / 1000.0
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump([{**s.__dict__, "wall_s": s.wall_s} for s in self.spans], fh)
