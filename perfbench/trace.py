"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: around its calls into
the engine's public functions, and by wrapping a few engine functions
that the workloads reach indirectly (the fetch barrier, the checkpoint
chain step). Wrappers are installed only when tracing is on; the
untraced run patches nothing. A hook whose target is missing is recorded
as unavailable, with the reason, instead of failing the run.

Spans live in memory (name, start, end, parent) and are summarized when
the workload ends. The tracer also times its own bookkeeping — hook
overhead, plan-metric walks and job counting — and reports it as a share
of the workload's timed wall (``trace.overhead_share``).
"""

from __future__ import annotations

import importlib
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass

#: executed-plan SQL metrics summed per workload -> per-layer metric name
PLAN_METRICS = {
    "shuffleBytesWritten": "exec.shuffle_bytes",
    "shuffleRecordsWritten": "exec.shuffle_records",
    "spillSize": "exec.spill_bytes",
    "numTasksFallBacked": "exec.agg_sort_fallback_tasks",
    "buildDataSize": "exec.join_build_bytes",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: Counter[str] = Counter()
        self.unavailable: dict[str, str] = {}
        self.cost = 0.0  # seconds spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, time.perf_counter(), 0.0, parent)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    # --- hooks ---------------------------------------------------------
    def wrap(self, module: str, attr: str, span_name: str, metric: str) -> None:
        """Replace ``module.attr`` (a function, or ``Class.method`` as
        ``attr="Class.method"``) with a spanned wrapper."""
        try:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            original = getattr(owner, leaf)
        except (ImportError, AttributeError) as e:
            self.unavailable[metric] = f"span unavailable: {module}.{attr} ({e})"
            return
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span(span_name):
                t1 = time.perf_counter()
                try:
                    return original(*args, **kwargs)
                finally:
                    t2 = time.perf_counter()
            tracer.cost += (t1 - t0) + (time.perf_counter() - t2)

        self._restore.append((owner, leaf, original))
        setattr(owner, leaf, wrapper)

    def uninstall(self) -> None:
        while self._restore:
            owner, leaf, original = self._restore.pop()
            setattr(owner, leaf, original)

    # --- Spark-side counts ------------------------------------------------
    def add_plan_metrics(self, df) -> None:
        """Sum the executed plan's shuffle/spill/fallback/build metrics.
        Call after the plan ran; adaptive plans are read through their
        final plan and query stages."""
        t0 = time.perf_counter()
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                stack.append(node.executedPlan())
                continue
            if name.endswith("QueryStage"):
                stack.append(node.plan())
                continue
            if name == "ReusedExchange":
                continue  # its metrics belong to the exchange it reuses
            metrics = node.metrics()
            for key in str(metrics.keySet().mkString(",")).split(","):
                if key in PLAN_METRICS:
                    self.counters[PLAN_METRICS[key]] += int(metrics.apply(key).value())
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        self.cost += time.perf_counter() - t0

    def count_jobs(self, sc, group: str, prefix: str) -> None:
        """Add the jobs and tasks Spark ran under job group ``group``."""
        t0 = time.perf_counter()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        self.counters[f"{prefix}.jobs"] += len(jobs)
        self.counters[f"{prefix}.tasks"] += tasks
        self.cost += time.perf_counter() - t0
