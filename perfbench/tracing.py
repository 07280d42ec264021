"""Traced-run tooling: in-memory spans and a reader for Spark's status store.

Spans are recorded from the benchmark's own code, around each call into
a layer of ``logpipe``; they stay in memory and run.py writes them out
as JSON when the run ends. Counts come from the status store that Spark keeps
even with the UI disabled: per-stage task metrics (tasks, shuffle bytes,
spill, GC, run time) and per-execution SQL plan metrics.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Spans:
    """Spans of one traced run: name, start, end and parent span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self, root: dict) -> dict[str, float]:
        """Self time per span name below ``root``: each span's duration
        minus the part of it that its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}

        def walk(s: dict) -> None:
            children = kids.get(s["id"], [])
            covered = sum(c["end"] - c["start"] for c in children)
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - covered
            for c in children:
                walk(c)

        for c in kids.get(root["id"], []):
            walk(c)
        return out


def _seq(jseq) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


class StatusStore:
    """What Spark recorded about the jobs and SQL executions that ran
    since a ``mark()``. The benchmark is a closed loop with one client,
    so every job after the mark belongs to the action being measured."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = sc._jvm
        self._gateway = sc._gateway

    def mark(self) -> tuple[int, int]:
        jobs = self._app.jobsList(None)
        execs = self._sql.executionsList()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
        )

    def _doubles(self, values: list[float]):
        arr = self._gateway.new_array(self._jvm.double, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr

    def stage_stats(self, mark: tuple[int, int]) -> dict:
        """Totals over the stages of every job since ``mark``, plus the
        median and maximum task run time of the heaviest stage."""
        jobs = [j for j in _seq(self._app.jobsList(None)) if j.jobId() > mark[0]]
        stages = []
        for sid in sorted({s for j in jobs for s in _seq(j.stageIds())}):
            attempts = self._app.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._doubles([])
            )
            stages += [a for a in _seq(attempts) if str(a.status()) == "COMPLETE"]
        out = {
            "jobs": len(jobs),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "shuffle_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ),
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1000.0,
            "task_s": sum(s.executorRunTime() for s in stages) / 1000.0,
            "task_max_s": 0.0,
            "task_p50_s": 0.0,
        }
        heaviest = max(stages, key=lambda s: s.executorRunTime(), default=None)
        if heaviest is not None:
            summary = self._app.taskSummary(
                heaviest.stageId(), heaviest.attemptId(), self._doubles([0.5, 1.0])
            )
            if summary.isDefined():
                run = summary.get().executorRunTime()
                out["task_p50_s"] = run.apply(0) / 1000.0
                out["task_max_s"] = run.apply(1) / 1000.0
        return out

    def sql_plans(self, mark: tuple[int, int]) -> list[list[tuple[str, dict]]]:
        """Per SQL execution since ``mark``: its final plan's nodes, root
        first, as (node name, {metric name: formatted value})."""
        out = []
        for e in _seq(self._sql.executionsList()):
            if e.executionId() <= mark[1]:
                continue
            values = self._sql.executionMetrics(e.executionId())
            nodes = []
            for n in _seq(self._sql.planGraph(e.executionId()).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = v.get()
                nodes.append((n.id(), n.name(), metrics))
            out.append([(name, m) for _, name, m in sorted(nodes, key=lambda t: t[0])])
        return out

    def output_rows(self, mark: tuple[int, int]) -> int:
        """Rows the last action's plan produced: ``number of output rows``
        of the top-most node that reports it."""
        plans = self.sql_plans(mark)
        for _, metrics in plans[-1] if plans else []:
            if "number of output rows" in metrics:
                return metric_count(metrics["number of output rows"])
        return 0

    def count_nodes(self, mark: tuple[int, int], prefix: str) -> int:
        """Plan nodes whose name starts with ``prefix`` (``Scan ``,
        ``Window``), over every SQL execution since ``mark``."""
        return sum(
            name.startswith(prefix) for plan in self.sql_plans(mark) for name, _ in plan
        )


def metric_count(value: str) -> int:
    """The total of a formatted count metric: ``1,234``, or the first
    figure of a ``total (min, med, max ...)`` summary."""
    head = value.split("\n")[-1] if value.startswith("total") else value
    return int("".join(ch for ch in head.split("(")[0] if ch.isdigit()) or 0)


def count_exchanges(df) -> int:
    """Shuffle exchanges in ``df``'s physical plan, counted node by node.

    Under AQE the adaptive root is walked through its current plan: the
    initial plan until ``df`` itself has run, its final plan after, never
    both. Query stages are walked into; broadcast and reused exchanges
    are not counted. ``df.write`` runs a new query, so the count of a
    frame that was only written stays the initial plan's."""

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        kids = node.children()
        return (name == "ShuffleExchangeExec") + sum(
            walk(kids.apply(i)) for i in range(kids.size())
        )

    return walk(df._jdf.queryExecution().executedPlan())
