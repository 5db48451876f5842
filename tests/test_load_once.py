"""Load-once fast paths (WorkerComputable.prepare): blob RDD for short
runs, host-local file cache for long runs, and the file-miss recovery
ladder (reference parity: AbstractWorkerComputable load-once +
MemoryDiskList memory/disk residency)."""

from __future__ import annotations

import glob
import logging
import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from guagua_spark.algorithms.gradient import (
    GradientDescentMaster,
    LogisticGradientWorker,
)
from guagua_spark.api import MasterInterceptor
from guagua_spark.engine import FILE_CACHE_MIN_ROUNDS, IterativeEngine


def _train_df(spark, partitions=4):
    return (
        spark.range(2_000)
        .repartition(partitions)
        .select(
            (F.col("id") % 17 / 17.0).alias("f1"),
            (F.col("id") % 5 / 5.0).alias("f2"),
            ((F.col("id") % 3) == 0).cast("double").alias("label"),
        )
    )


def _prep_paths() -> set[str]:
    """Every prepared-file directory and ``p*.pkl`` file under the
    driver's Spark local dirs (SPARK_LOCAL_DIRS, else the temp dir).
    Searched recursively: Python workers write them below the block
    manager's ``blockmgr-*`` dirs, not at the root."""
    roots = os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    dirs = {
        d
        for root in roots.split(",")
        for d in glob.glob(
            os.path.join(root, "**", "guagua-prep-*"), recursive=True
        )
    }
    files = {f for d in dirs for f in glob.glob(os.path.join(d, "p*.pkl"))}
    return dirs | files


class _PrepSpy(MasterInterceptor):
    """Records after every round the prepared files this run wrote:
    whatever appeared under the local dirs since construction."""

    def __init__(self) -> None:
        self.before = _prep_paths()
        self.seen: set[str] = set()

    def new_files(self) -> set[str]:
        return {p for p in _prep_paths() - self.before if p.endswith(".pkl")}

    def post_iteration(self, context) -> None:
        self.seen |= self.new_files()


def _run(spark, rounds, interceptors=()):
    engine = IterativeEngine(spark)
    model = engine.run(
        GradientDescentMaster(dim=2, learning_rate=0.5),
        LogisticGradientWorker(("f1", "f2"), "label"),
        _train_df(spark),
        total_iteration=rounds,
        interceptors=interceptors,
    )
    return model


def test_blob_path_matches_arrow_semantics(spark):
    """Long runs forced onto the blob/treeReduce path (executor-side
    combine) must produce the same model as the Arrow path (float-sum
    order may differ between treeReduce and driver-order collect, hence
    allclose not array_equal)."""
    from guagua_spark.api import WorkerComputable

    class ArrowOnlyWorker(LogisticGradientWorker):
        # restore the base method so the engine's identity check routes
        # this worker through the per-round Arrow decode path
        prepare = WorkerComputable.prepare

        def compute(self, context, batches):
            from guagua_spark.algorithms.gradient import _features_matrix

            return self.compute_prepared(
                context,
                _features_matrix(batches, self.feature_cols, self.label_col),
            )

    rounds = FILE_CACHE_MIN_ROUNDS + 2
    engine = IterativeEngine(spark)
    blob = engine.run(
        GradientDescentMaster(dim=2, learning_rate=0.5),
        LogisticGradientWorker(("f1", "f2"), "label"),
        _train_df(spark),
        total_iteration=rounds,
        combine_executor_side=True,  # blob + treeReduce variant
    )
    engine = IterativeEngine(spark)
    arrow = engine.run(
        GradientDescentMaster(dim=2, learning_rate=0.5),
        ArrowOnlyWorker(("f1", "f2"), "label"),
        _train_df(spark),
        total_iteration=rounds,
    )
    np.testing.assert_allclose(blob.weights, arrow.weights, rtol=1e-9)


def test_short_runs_stay_on_arrow_path(spark):
    """< FILE_CACHE_MIN_ROUNDS rounds must not engage any load-once
    variant (fixed costs dominate — measured): no prepared file is
    written during the run."""
    spy = _PrepSpy()
    _run(spark, FILE_CACHE_MIN_ROUNDS - 1, interceptors=(spy,))
    assert spy.seen == set()


def test_file_cache_long_run_correct(spark):
    """≥ FILE_CACHE_MIN_ROUNDS rounds engage the host-local file cache;
    result must equal the short-path math extended to the same rounds
    (verified against a driver-side numpy replay)."""
    rounds = FILE_CACHE_MIN_ROUNDS + 2
    spy = _PrepSpy()
    model = _run(spark, rounds, interceptors=(spy,))

    pdf = _train_df(spark).toPandas()
    x = np.column_stack(
        [np.ones(len(pdf)), pdf["f1"].to_numpy(), pdf["f2"].to_numpy()]
    )
    y = pdf["label"].to_numpy()
    w = np.zeros(3)
    for _ in range(rounds):
        pred = 1.0 / (1.0 + np.exp(-(x @ w)))
        err = pred - y
        w = w - 0.5 * (x.T @ err) / len(y)
    np.testing.assert_allclose(model.weights, w, rtol=1e-9)
    # the file cache was engaged, and neither the run's directories nor
    # its files outlive run()
    assert spy.seen
    assert _prep_paths() - spy.before == set()


class _DropCacheFiles(_PrepSpy):
    """Fault injection: after round 2 the hosts 'lose' every prepared
    file — the next round must recover via the re-prepare ladder."""

    def __init__(self) -> None:
        super().__init__()
        self.removed = 0

    def post_iteration(self, context) -> None:
        super().post_iteration(context)
        if context.current_iteration == 2:
            for f in self.new_files():
                os.remove(f)
                self.removed += 1


def test_file_cache_miss_recovers(spark, caplog):
    rounds = FILE_CACHE_MIN_ROUNDS + 2
    drop = _DropCacheFiles()
    with caplog.at_level(logging.WARNING, logger="guagua_spark.engine"):
        broken = _run(spark, rounds, interceptors=(drop,))
    assert drop.removed >= 1
    assert any("re-preparing" in m for m in caplog.messages)
    clean = _run(spark, rounds)
    np.testing.assert_array_equal(broken.weights, clean.weights)


def test_prepare_handles_empty_partitions(spark):
    df = spark.range(10).repartition(8).select(
        (F.col("id") / 10.0).alias("f1"),
        (F.col("id") / 20.0).alias("f2"),
        F.lit(1.0).alias("label"),
    )
    engine = IterativeEngine(spark)
    model = engine.run(
        GradientDescentMaster(dim=2, learning_rate=0.5),
        LogisticGradientWorker(("f1", "f2"), "label"),
        df,
        total_iteration=FILE_CACHE_MIN_ROUNDS,
    )
    assert np.all(np.isfinite(model.weights))


def test_noprep_worker_class_unaffected():
    """Engine's prepare detection is by method identity — a worker that
    never overrides prepare must raise NotImplementedError if called."""
    from guagua_spark.algorithms import SumWorker

    with pytest.raises(NotImplementedError):
        SumWorker().prepare(iter([]))


def test_partial_barrier_with_prepared_worker(spark):
    """min_workers_ratio < 1 excludes the file cache but rides the blob
    RDD for long prepared runs — the barrier must deliver the same model
    as the full-barrier run when nobody straggles."""
    rounds = FILE_CACHE_MIN_ROUNDS + 1
    engine = IterativeEngine(spark)
    barrier = engine.run(
        GradientDescentMaster(dim=2, learning_rate=0.5),
        LogisticGradientWorker(("f1", "f2"), "label"),
        _train_df(spark),
        total_iteration=rounds,
        min_workers_ratio=0.5,
        min_workers_timeout=120.0,
    )
    full = _run(spark, rounds)
    np.testing.assert_allclose(barrier.weights, full.weights, rtol=1e-9)
