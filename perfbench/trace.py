"""Tracing for the benchmark's traced run.

Everything here is recorded from the benchmark's own code, around calls
into the program's public functions; nothing inside the program changes.

- Spans (name, start, end, parent, op id) are kept in memory and written
  as JSON when the run ends.
- Plan numbers come from the AQE-final physical plan of a DataFrame the
  benchmark executed, read through py4j: per-node SQL metrics, the join
  strategies and exchanges, and the QueryExecution phase tracker.
- Task numbers come from Spark's status store (the data its event log
  records), per job group, so each traced op gets exactly its stages.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for the ops it is switched on for.

    ``active`` is False for untraced ops: every hook then returns at
    once, so untraced and traced ops can interleave in one process and
    their difference is the tracing overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else None, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` on this instance by a timed twin."""
        inner = getattr(obj, method)

        def timed(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, timed)

    def seconds(self, name: str, op: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name and s.op == op)

    def self_seconds(self, name: str, op: str) -> float:
        """Duration of the ``name`` spans of ``op`` minus their children."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s.name == name and s.op == op:
                kids = sum(c.seconds for c in self.spans if c.parent == i)
                total += s.seconds - kids
        return total

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"name": s.name, "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
             "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# AQE-final plan
# ---------------------------------------------------------------------------

@dataclass
class PlanNode:
    kind: str
    text: str
    metrics: dict[str, int] = field(default_factory=dict)
    below: str = ""  # kind of the first real operator under this one


BROADCAST_JOINS = {"BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"}
SHUFFLE_JOINS = {"SortMergeJoinExec", "ShuffledHashJoinExec", "CartesianProductExec"}
EXCHANGES = {"ShuffleExchangeExec", "BroadcastExchangeExec"}
AGGREGATES = {"HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"}
# nodes that only carry rows between operators
WRAPPERS = {"WholeStageCodegenExec", "InputAdapter", "AQEShuffleReadExec",
            "ShuffleQueryStageExec", "BroadcastQueryStageExec", "ResultQueryStageExec",
            "ColumnarToRowExec"}


def plan_nodes(df) -> list[PlanNode]:
    """Every node of ``df``'s executed plan, query stages and subqueries
    included. Call after an action on ``df`` itself (``toPandas`` or
    ``collect``), so the adaptive plan is final."""
    out: list[PlanNode] = []

    def walk(node) -> str:
        """Record ``node``'s subtree; return the kind of its first real
        operator (``node`` itself unless it is a wrapper)."""
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if kind.startswith("Reused"):
            return kind  # its work is counted once, at the original node
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        pn = PlanNode(kind, node.simpleString(400), metrics)
        out.append(pn)
        kids = [node.plan()] if kind.endswith("QueryStageExec") else []
        children = node.children()
        kids += [children.apply(i) for i in range(children.size())]
        below = [walk(k) for k in kids]
        subs = node.subqueries()
        for i in range(subs.size()):
            walk(subs.apply(i))
        pn.below = below[0] if below else ""
        return pn.below if kind in WRAPPERS and below else kind

    walk(df._jdf.queryExecution().executedPlan())
    return out


def planning_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.iterator()
    while it.hasNext():
        total += int(it.next()._2().durationMs())
    return total / 1000.0


def metric_sum(nodes: list[PlanNode], key: str, kinds: set[str] | None = None) -> int:
    return sum(n.metrics.get(key, 0) for n in nodes if kinds is None or n.kind in kinds)


def strategy_counts(nodes: list[PlanNode]) -> dict[str, int]:
    return {
        "broadcast_joins": sum(n.kind in BROADCAST_JOINS for n in nodes),
        "shuffle_joins": sum(n.kind in SHUFFLE_JOINS for n in nodes),
        "exchanges": sum(n.kind in EXCHANGES for n in nodes),
    }


# ---------------------------------------------------------------------------
# task metrics from the status store
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "tasks": ("numCompleteTasks", 1),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


def stage_totals(spark, group: str) -> dict[str, float]:
    """Sum the task metrics of every stage run under job group ``group``."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    gw = spark.sparkContext._gateway
    store = jsc.statusStore()
    totals = dict.fromkeys(STAGE_FIELDS, 0.0)
    stages: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    for sid in stages:
        attempts = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False,
                                   gw.new_array(gw.jvm.double, 0))
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            for name, (getter, scale) in STAGE_FIELDS.items():
                totals[name] += getattr(sd, getter)() * scale
    return totals
