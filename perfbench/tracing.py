"""Hooks the benchmark attaches to a training run through the program's
public API, and the span arithmetic over what they record.

Spans are kept in memory as dicts with ``name``, ``layer``, ``start``,
``end`` (``time.monotonic()`` seconds, comparable across the driver and
the local executors' Python workers), ``parent`` and ``run``; they are
written out once, when the benchmark ends.
"""

from __future__ import annotations

import pickle
import time
from typing import Any

from pyspark.accumulators import AccumulatorParam

from guagua_spark import MasterComputable, MasterInterceptor, WorkerInterceptor


class ListParam(AccumulatorParam):
    """Accumulator of span tuples; merged by list concatenation."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class WorkerSpans(WorkerInterceptor):
    """Executor side: one span per (iteration, partition) from
    ``pre_iteration`` to ``post_iteration``, returned to the driver
    through an accumulator."""

    def __init__(self, acc) -> None:
        self.acc = acc
        self._start: dict[tuple[int, int], float] = {}

    def pre_iteration(self, context) -> None:
        key = (context.current_iteration, context.partition_id)
        self._start[key] = time.monotonic()

    def post_iteration(self, context) -> None:
        end = time.monotonic()
        key = (context.current_iteration, context.partition_id)
        self.acc.add([(key[0], key[1], self._start.pop(key), end)])


class _Delegating(MasterComputable):
    """Master wrapper: every attribute it does not define (such as
    ``initial_result``) is the wrapped master's."""

    def __init__(self, inner: MasterComputable) -> None:
        self.inner = inner

    def __getattr__(self, name: str) -> Any:
        if name == "inner":
            raise AttributeError(name)
        return getattr(self.inner, name)

    def init(self, context) -> None:
        self.inner.init(context)

    def compute(self, context) -> Any:
        return self.inner.compute(context)


class TimedMaster(_Delegating):
    """Times each ``compute`` of the wrapped master."""

    def __init__(self, inner: MasterComputable) -> None:
        super().__init__(inner)
        self.spans: list[tuple[int, float, float]] = []

    def compute(self, context) -> Any:
        t0 = time.monotonic()
        out = self.inner.compute(context)
        self.spans.append((context.current_iteration, t0, time.monotonic()))
        return out


class HaltAfter(_Delegating):
    """Sets the halt flag on the wrapped master's result once
    ``iterations`` iterations have run, so a run stops early through the
    program's own halt protocol."""

    def __init__(self, inner: MasterComputable, iterations: int) -> None:
        super().__init__(inner)
        self.iterations = iterations

    def compute(self, context) -> Any:
        out = self.inner.compute(context)
        if context.current_iteration >= self.iterations:
            out.halt = True
        return out


class IterationClock(MasterInterceptor):
    """Start and end time of every iteration; the only hook of an
    untraced run."""

    def __init__(self) -> None:
        self.starts: list[float] = []
        self.ends: list[float] = []

    def pre_iteration(self, context) -> None:
        self.starts.append(time.monotonic())

    def post_iteration(self, context) -> None:
        self.ends.append(time.monotonic())


class IterationProbe(MasterInterceptor):
    """Driver side of a traced run: puts each iteration's Spark jobs in
    their own job group (so ``statusTracker`` can count them) and
    records the pickled sizes of the master result sent down and of the
    worker results that reached the driver."""

    def __init__(self, sc, group_prefix: str) -> None:
        self.sc = sc
        self.group_prefix = group_prefix
        self.rows: list[dict] = []

    def group(self, iteration: int) -> str:
        return f"{self.group_prefix}-{iteration}"

    def pre_iteration(self, context) -> None:
        it = context.current_iteration
        self.sc.setJobGroup(self.group(it), f"perfbench iteration {it}")

    def post_iteration(self, context) -> None:
        results = list(context.worker_results)
        self.rows.append(
            {
                "iteration": context.current_iteration,
                "down_bytes": len(
                    pickle.dumps(context.master_result, pickle.HIGHEST_PROTOCOL)
                ),
                "up_bytes": sum(
                    len(pickle.dumps(r, pickle.HIGHEST_PROTOCOL)) for r in results
                ),
                "results_at_driver": len(results),
            }
        )

    def post_application(self, context) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_counts(self, iteration: int) -> tuple[int, int]:
        """(jobs, completed tasks) Spark ran in this iteration's group."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self.group(iteration))
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Sum over spans of (duration minus the part of it its children
    cover), grouped by layer."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(
            kids.get(s["id"], []), s["start"], s["end"]
        )
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


class SpanLog:
    """In-memory span store for one benchmark process."""

    def __init__(self, run: str) -> None:
        self.run = run
        self.spans: list[dict] = []

    def add(
        self, name: str, layer: str, start: float, end: float, parent: int | None = None
    ) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "layer": layer,
                "start": start,
                "end": end,
                "parent": parent,
                "run": self.run,
            }
        )
        return sid
