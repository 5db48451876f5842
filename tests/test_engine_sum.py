"""Engine end-to-end: the reference SumTest golden (15345 after 10 rounds)
plus halt and worker-voted-halt semantics.

Reference: guagua-examples/src/test/java/.../sum/SumTest.java:45-67.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
import pytest

from guagua_spark.algorithms.sum_ import SumMaster, SumState, SumWorker
from guagua_spark.api import (
    MasterComputable,
    MasterInterceptor,
    WorkerComputable,
)
from guagua_spark.engine import IterativeEngine


def _two_partition_df(spark):
    # partition 0 = {1,2,3}, partition 1 = {2,3,4} — the exact SumTest fixture
    rdd = spark.sparkContext.parallelize(
        [(1,), (2,), (3,), (2,), (3,), (4,)], 2
    )
    return spark.createDataFrame(rdd, "value long")


def test_sum_golden_15345(spark):
    df = _two_partition_df(spark)
    assert df.rdd.getNumPartitions() == 2
    engine = IterativeEngine(spark)
    result = engine.run(SumMaster(), SumWorker(), df, total_iteration=10)
    # Mₙ = 15·(2ⁿ−1): the golden value from the reference SumTest
    assert result.value == 15345
    assert result.halt is False


def test_sum_halt_fires_at_iteration_17(spark):
    df = _two_partition_df(spark)
    engine = IterativeEngine(spark)
    result = engine.run(SumMaster(), SumWorker(), df, total_iteration=50)
    # halt threshold 1e6 → first exceeded at M₁₇ = 15·(2¹⁷−1) = 1,966,065
    assert result.value == 15 * (2**17 - 1) == 1_966_065
    assert result.halt is True
    assert len(engine.iteration_seconds) == 17


class SplitSumWorker(SumWorker):
    """SumWorker that, like the reference's input format, gives an empty
    split no worker result: it returns None, which SumMaster skips."""

    def compute(self, context, batches: Iterator[pa.RecordBatch]):
        batches = [b for b in batches if b.num_rows]
        return super().compute(context, iter(batches)) if batches else None


def test_sum_golden_over_33_partitions(spark):
    """The SumTest splits in 2 of 33 partitions: a Combinable run wider
    than 32 partitions sends its partials up the run's socket like any
    other, and the master sums them in partition order."""
    rdd = spark.sparkContext.parallelize(
        [[1, 2, 3], [2, 3, 4]] + [[]] * 31, 33
    ).flatMap(lambda values: [(v,) for v in values])
    df = spark.createDataFrame(rdd, "value long")
    assert df.rdd.getNumPartitions() == 33
    engine = IterativeEngine(spark)
    result = engine.run(SumMaster(), SplitSumWorker(), df, total_iteration=10)
    assert result.value == 15345


class _Workers(MasterInterceptor):
    """Records the master's worker count per iteration."""

    def __init__(self) -> None:
        self.counts: list[int] = []

    def post_iteration(self, context) -> None:
        self.counts.append(context.num_workers)


def test_empty_partitions_are_harmless(spark):
    """4 partitions, 2 of them empty, on the Arrow path: an empty
    partition is a worker like any other and returns the previous sum,
    so Mₙ = 4·Mₙ₋₁ + 15."""
    rdd = spark.sparkContext.parallelize(
        [[1, 2, 3], [], [2, 3, 4], []], 4
    ).flatMap(lambda values: [(v,) for v in values])
    df = spark.createDataFrame(rdd, "value long")
    assert [len(p) for p in df.rdd.glom().collect()] == [3, 0, 3, 0]
    workers = _Workers()
    result = IterativeEngine(spark).run(
        SumMaster(), SumWorker(), df, total_iteration=2,
        interceptors=[workers],
    )
    assert result.value == 75
    assert workers.counts == [4, 4]


def test_run_keeps_the_callers_job_description(spark):
    """Each per-iteration job is described in its own thread, so the
    caller's description is the same after run() as before it."""
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        result = IterativeEngine(spark).run(
            SumMaster(), SumWorker(), _two_partition_df(spark),
            total_iteration=2,
        )
        assert result.value == 45
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)


@dataclass
class VoteState:
    value: int = 0
    halt: bool = False

    def combine(self, other: "VoteState") -> "VoteState":
        return VoteState(self.value + other.value, self.halt and other.halt)


class VotingWorker(WorkerComputable):
    """Workers vote halt from iteration 3 on."""

    def compute(self, context, batches: Iterator[pa.RecordBatch]) -> VoteState:
        n = 0
        for batch in batches:
            n += batch.num_rows
        return VoteState(value=n, halt=context.current_iteration >= 3)


class CountMaster(MasterComputable):
    def compute(self, context) -> VoteState:
        return VoteState(value=sum(r.value for r in context.worker_results))


def test_worker_voted_halt(spark):
    df = _two_partition_df(spark)
    engine = IterativeEngine(spark)
    result = engine.run(
        CountMaster(), VotingWorker(), df, total_iteration=50,
        worker_halt_enable=True,
    )
    assert result.halt is True
    assert len(engine.iteration_seconds) == 3


class ListWorker(WorkerComputable):
    """A worker whose result is ITSELF a Python list — regression guard:
    the engine must hand the master each list intact, never flattened
    into a merge of its own."""

    def compute(self, context, batches: Iterator[pa.RecordBatch]):
        n = 0
        for batch in batches:
            n += batch.num_rows
        return [n, context.partition_id]


class ListMaster(MasterComputable):
    def compute(self, context):
        # Each worker result must arrive as an intact 2-element list.
        assert all(
            isinstance(r, list) and len(r) == 2
            for r in context.worker_results
        ), context.worker_results
        return VoteState(value=sum(r[0] for r in context.worker_results))


def test_list_results_round_trip_combinable_path(spark):
    df = _two_partition_df(spark)
    engine = IterativeEngine(spark)
    result = engine.run(ListMaster(), ListWorker(), df, total_iteration=1)
    assert result.value == 6


def test_checkpoint_resume(spark, tmp_path):
    df = _two_partition_df(spark)
    ckpt = str(tmp_path / "ckpt")
    e1 = IterativeEngine(spark, checkpoint_dir=ckpt, checkpoint_interval=1)
    r5 = e1.run(SumMaster(), SumWorker(), df, total_iteration=5)
    assert r5.value == 15 * (2**5 - 1)
    # resume: run to 10 total; engine restarts at iteration 6
    e2 = IterativeEngine(spark, checkpoint_dir=ckpt, checkpoint_interval=1)
    r10 = e2.run(SumMaster(), SumWorker(), df, total_iteration=10)
    assert r10.value == 15345
    assert len(e2.iteration_seconds) == 5  # only iterations 6..10 ran


def test_interceptor_ordering(spark):
    from guagua_spark.api import MasterInterceptor

    calls: list[str] = []

    class Tracker(MasterInterceptor):
        def __init__(self, name: str) -> None:
            self.name = name

        def pre_application(self, ctx):
            calls.append(f"preApp:{self.name}")

        def pre_iteration(self, ctx):
            calls.append(f"preIter:{self.name}")

        def post_iteration(self, ctx):
            calls.append(f"postIter:{self.name}")

        def post_application(self, ctx):
            calls.append(f"postApp:{self.name}")

    df = _two_partition_df(spark)
    engine = IterativeEngine(spark)
    engine.run(
        SumMaster(), SumWorker(), df, total_iteration=1,
        interceptors=[Tracker("a"), Tracker("b")],
    )
    # pre FIFO, post FILO — reference GuaguaMasterService.java:63-65,281-284
    assert calls == [
        "preApp:a", "preApp:b",
        "preIter:a", "preIter:b",
        "postIter:b", "postIter:a",
        "postApp:b", "postApp:a",
    ]


def test_worker_interceptor_ordering(spark, tmp_path, caplog):
    """Executor-side hooks: FIFO pre, FILO post, application hooks on the
    first/last iteration's task (worker/WorkerInterceptor.java:33-38), on
    every worker-task path: Arrow, prepared blob RDD (more partitions
    than the 4 task slots of local[4]) and resident. The paths run inside
    one test so its id stays stable. Local mode ⇒ tasks share the driver
    filesystem, and one partition's tasks run one at a time, so an
    append-only trace file per partition observes exact order."""
    import glob
    import logging

    from test_load_once import _paths

    from guagua_spark.algorithms.gradient import (
        GradientDescentMaster,
        LogisticGradientWorker,
    )
    from guagua_spark.api import WorkerInterceptor
    from guagua_spark.engine import LOAD_ONCE_MIN_ROUNDS

    class Tracker(WorkerInterceptor):
        def __init__(self, name: str, path: str) -> None:
            self.name = name
            self.path = path

        def _mark(self, hook: str, ctx) -> None:
            with open(f"{self.path}.{ctx.partition_id}", "a") as f:
                f.write(f"{hook}:{self.name}:it{ctx.current_iteration}\n")

        def pre_application(self, ctx):
            self._mark("preApp", ctx)

        def pre_iteration(self, ctx):
            self._mark("preIter", ctx)

        def post_iteration(self, ctx):
            self._mark("postIter", ctx)

        def post_application(self, ctx):
            self._mark("postApp", ctx)

    sc = spark.sparkContext
    sum_df = spark.createDataFrame(
        sc.parallelize([(1,), (2,), (3,)], 1), "value long"
    )
    rows = [(0.1, 0.0), (0.5, 1.0), (0.9, 1.0)]

    def lr_df(partitions: int):
        return spark.createDataFrame(
            sc.parallelize(rows * partitions, partitions),
            "f1 double, label double",
        )

    paths = {
        "arrow": (SumMaster(), SumWorker(), sum_df, 2),
        "blob": (
            GradientDescentMaster(dim=1, learning_rate=0.5),
            LogisticGradientWorker(("f1",), "label"),
            lr_df(8), LOAD_ONCE_MIN_ROUNDS,
        ),
        "resident": (
            GradientDescentMaster(dim=1, learning_rate=0.5),
            LogisticGradientWorker(("f1",), "label"),
            lr_df(1), LOAD_ONCE_MIN_ROUNDS,
        ),
    }
    for name, (master, worker, df, rounds) in paths.items():
        trace = str(tmp_path / f"{name}.log")
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="guagua_spark.engine"):
            IterativeEngine(spark).run(
                master, worker, df, total_iteration=rounds,
                worker_interceptors=[Tracker("a", trace), Tracker("b", trace)],
            )
        assert _paths(caplog) == [name]
        expected = ["preApp:a:it1", "preApp:b:it1"]
        for it in range(1, rounds + 1):
            expected += [
                f"preIter:a:it{it}", f"preIter:b:it{it}",
                f"postIter:b:it{it}", f"postIter:a:it{it}",
            ]
        expected += [f"postApp:b:it{rounds}", f"postApp:a:it{rounds}"]
        files = sorted(glob.glob(f"{trace}.*"))
        assert files == [
            f"{trace}.{p}" for p in range(df.rdd.getNumPartitions())
        ], name
        for path in files:
            assert open(path).read().splitlines() == expected, (name, path)


def test_iteration_latency_budget(spark):
    """Regression guard for per-round engine latency (the engine's whole
    cost model: a 50-round training run pays this 50×). On the tiny sum
    fixture a steady-state round is pure fixed overhead. The bound is
    RELATIVE to a floor job measured in the same process (a trivial
    Python-task job carries ~0.2 s fixed scheduling cost on this stack),
    so host load scales the budget instead of flaking the test: a round
    must stay within 4× the floor (+small slack) — the class of 2-3×
    regression seen when extra per-round work crept into the shared
    path still trips it."""
    import statistics
    import time

    sc = spark.sparkContext
    probe = sc.parallelize(range(2), 2).cache()
    probe.count()
    floors = []
    for _ in range(5):
        t0 = time.monotonic()
        probe.mapPartitions(lambda it: [1]).collect()
        floors.append(time.monotonic() - t0)
    floor = statistics.median(floors)

    df = _two_partition_df(spark)
    engine = IterativeEngine(spark)
    engine.run(SumMaster(), SumWorker(), df, total_iteration=8)
    steady = statistics.median(engine.iteration_seconds[1:])
    assert steady < max(4 * floor, 0.6), (steady, floor)


def test_memory_stats_interceptors(spark):
    """Default profiling interceptors run on both sides without disturbing
    the computation (MemoryStatsMasterInterceptor.java analogues)."""
    from guagua_spark.interceptors import (
        MemoryStatsMasterInterceptor,
        MemoryStatsWorkerInterceptor,
        memory_stats,
    )

    stats = memory_stats()
    assert stats["max_rss_kb"] > 0 and len(stats["gc_collections"]) == 3

    df = _two_partition_df(spark)
    r = IterativeEngine(spark).run(
        SumMaster(), SumWorker(), df, total_iteration=10,
        interceptors=[MemoryStatsMasterInterceptor()],
        worker_interceptors=[MemoryStatsWorkerInterceptor()],
    )
    assert r.value == 15345
