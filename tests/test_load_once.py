"""Load-once paths (WorkerComputable.prepare): the resident job for
prepared runs that fit the task slots, the blob RDD for the other long
runs, the fallback from a lost resident job to the blob path, failure
and checkpoint resume around them, and the run listener's token check
(reference parity: AbstractWorkerComputable load-once + MemoryDiskList
memory/disk residency)."""

from __future__ import annotations

import glob
import logging
import os
import pickle
import re
import socket
import tempfile
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from guagua_spark.algorithms.gradient import (
    GradientDescentMaster,
    LogisticGradientWorker,
)
from guagua_spark.api import MasterInterceptor, WorkerInterceptor
from guagua_spark.engine import LOAD_ONCE_MIN_ROUNDS, IterativeEngine

ENGINE_LOG = "guagua_spark.engine"


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


def _run(spark, rounds, master=None, **kwargs):
    engine = IterativeEngine(spark)
    model = engine.run(
        master or GradientDescentMaster(dim=2, learning_rate=0.5),
        LogisticGradientWorker(("f1", "f2"), "label"),
        _train_df(spark),
        total_iteration=rounds,
        **kwargs,
    )
    return model


def _replay(spark, rounds):
    """Driver-side numpy replay of the same logistic GD."""
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
    return w


def _paths(caplog) -> list[str]:
    """The path each run() chose, from its INFO line."""
    return [
        m.split(" path: ")[0]
        for m in caplog.messages
        if re.match(r"(arrow|blob|resident) path: ", m)
    ]


def test_blob_path_matches_arrow_semantics(spark, caplog):
    """A long run forced onto the blob path (8 partitions on the 4 task
    slots of local[4]) must produce the same model as the Arrow path
    over the same partitions, bit for bit: both hand the master its
    partials in partition order."""
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

    rounds = LOAD_ONCE_MIN_ROUNDS + 2
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        blob = IterativeEngine(spark).run(
            GradientDescentMaster(dim=2, learning_rate=0.5),
            LogisticGradientWorker(("f1", "f2"), "label"),
            _train_df(spark, 8),
            total_iteration=rounds,
        )
        arrow = IterativeEngine(spark).run(
            GradientDescentMaster(dim=2, learning_rate=0.5),
            ArrowOnlyWorker(("f1", "f2"), "label"),
            _train_df(spark, 8),
            total_iteration=rounds,
        )
    assert _paths(caplog) == ["blob", "arrow"]
    np.testing.assert_array_equal(blob.weights, arrow.weights)
    np.testing.assert_allclose(blob.weights, _replay(spark, rounds), rtol=1e-9)


def test_no_partition_cap_beyond_the_task_slots(spark, monkeypatch):
    """Only the task slots bound a resident run's width: 40 partitions
    stay resident on 64 slots and are kept off the resident path on 4."""
    from guagua_spark import engine

    sc = spark.sparkContext
    monkeypatch.setattr(engine, "_task_slots", lambda sc: 64)
    assert engine._resident_blocker(sc, 40) is None
    monkeypatch.setattr(engine, "_task_slots", lambda sc: 4)
    assert engine._resident_blocker(sc, 40) == "40 partitions > 4 task slots"


def test_short_runs_are_resident(spark, caplog):
    """A prepared run that fits the task slots is resident at any
    length, fewer than LOAD_ONCE_MIN_ROUNDS rounds included."""
    rounds = 2
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        model = _run(spark, rounds)
    assert _paths(caplog) == ["resident"]
    assert any(m.startswith("resident path: 2 rounds") for m in caplog.messages)
    np.testing.assert_allclose(model.weights, _replay(spark, rounds), rtol=1e-9)


class _PrepFileWatch(MasterInterceptor):
    """After every round, records any ``guagua-prep-*`` path that
    appeared under the driver's Spark local dirs (SPARK_LOCAL_DIRS, else
    the temp dir) since construction: a resident run keeps its prepared
    partitions in task memory and must write no prepared file."""

    def __init__(self) -> None:
        self.before = self._scan()
        self.seen: set[str] = set()

    @staticmethod
    def _scan() -> set[str]:
        roots = os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
        return {
            p
            for root in roots.split(",")
            for p in glob.glob(
                os.path.join(root, "**", "guagua-prep-*"), recursive=True
            )
        }

    def post_iteration(self, context) -> None:
        self.seen |= self._scan() - self.before


def test_resident_long_run_correct(spark, caplog):
    """≥ LOAD_ONCE_MIN_ROUNDS rounds on 4 partitions (4 task slots) run
    as one resident job; the model equals a driver-side numpy replay and
    no prepared file is ever written."""
    rounds = LOAD_ONCE_MIN_ROUNDS + 2
    watch = _PrepFileWatch()
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        model = _run(spark, rounds, interceptors=(watch,))
    assert _paths(caplog) == ["resident"]
    np.testing.assert_allclose(model.weights, _replay(spark, rounds), rtol=1e-9)
    assert watch.seen == set()


class _KillOnce(WorkerInterceptor):
    """Fault injection: the Python worker running partition 1 exits in
    iteration 3. An O_EXCL marker file makes it fire once, so the
    fallback's own iteration-3 task survives."""

    def __init__(self, marker: str) -> None:
        self.marker = marker

    def pre_iteration(self, context) -> None:
        if context.current_iteration != 3 or context.partition_id != 1:
            return
        try:
            fd = os.open(self.marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return
        os.close(fd)
        os._exit(1)


def test_resident_lost_worker_recovers(spark, caplog, tmp_path):
    """A worker killed mid-run: the driver sees its socket close, cancels
    the resident job and finishes on the blob path from iteration 3 with
    the last master result. Both paths sum partials in partition order
    over the same prepare() output, so the model is bit-identical."""
    rounds = LOAD_ONCE_MIN_ROUNDS + 2
    marker = str(tmp_path / "killed")
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        broken = _run(
            spark, rounds, worker_interceptors=[_KillOnce(marker)]
        )
    assert os.path.exists(marker)
    assert _paths(caplog) == ["resident"]
    lost = [
        re.match(r"resident job lost at iteration 3 \((\w+):", m)
        for m in caplog.messages
    ]
    classes = [m.group(1) for m in lost if m]
    assert len(classes) == 1, caplog.messages
    assert classes[0].endswith(("Error", "Exception")), classes
    clean = _run(spark, rounds)
    np.testing.assert_array_equal(broken.weights, clean.weights)


class _FailAt(GradientDescentMaster):
    at = 3

    def compute(self, context):
        if context.current_iteration == self.at:
            raise RuntimeError(f"master failed at iteration {self.at}")
        return super().compute(context)


class _HaltAt(GradientDescentMaster):
    def compute(self, context):
        out = super().compute(context)
        out.halt = context.current_iteration >= 2
        return out


def test_resident_master_error_releases_slots(spark):
    """An exception from master.compute stops the resident tasks before
    it leaves run(): the next run needs all 4 task slots of this
    session again, and would wait forever if they leaked."""
    rounds = LOAD_ONCE_MIN_ROUNDS + 2
    with pytest.raises(RuntimeError, match="iteration 3"):
        _run(spark, rounds, master=_FailAt(dim=2, learning_rate=0.5))
    model = _run(spark, rounds)
    np.testing.assert_allclose(model.weights, _replay(spark, rounds), rtol=1e-9)


def test_resident_early_halt_releases_slots(spark):
    rounds = LOAD_ONCE_MIN_ROUNDS + 2
    engine = IterativeEngine(spark)
    halted = engine.run(
        _HaltAt(dim=2, learning_rate=0.5),
        LogisticGradientWorker(("f1", "f2"), "label"),
        _train_df(spark),
        total_iteration=rounds,
    )
    assert len(engine.iteration_seconds) == 2
    np.testing.assert_allclose(halted.weights, _replay(spark, 2), rtol=1e-9)
    model = _run(spark, rounds)
    np.testing.assert_allclose(model.weights, _replay(spark, rounds), rtol=1e-9)


def test_prepare_handles_empty_partitions(spark, caplog):
    """8 partitions on 4 task slots: the run takes the blob path (a
    barrier stage wider than the slots would never be scheduled)."""
    df = spark.range(10).repartition(8).select(
        (F.col("id") / 10.0).alias("f1"),
        (F.col("id") / 20.0).alias("f2"),
        F.lit(1.0).alias("label"),
    )
    engine = IterativeEngine(spark)
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        model = engine.run(
            GradientDescentMaster(dim=2, learning_rate=0.5),
            LogisticGradientWorker(("f1", "f2"), "label"),
            df,
            total_iteration=LOAD_ONCE_MIN_ROUNDS,
        )
    assert np.all(np.isfinite(model.weights))
    assert "blob path: 8 partitions > 4 task slots" in caplog.messages


_LOADED: list[bool] = []


def _trip() -> None:
    _LOADED.append(True)


class _Tripwire:
    """Unpickling this sets a flag."""

    def __reduce__(self):
        return (_trip, ())


def test_resident_listener_rejects_wrong_token():
    """A connection whose first bytes are not the run token is closed
    before anything it sent is unpickled; a task with the right token
    is still accepted after it."""
    from guagua_spark.engine import _HELLO, _Listener, _ResidentLost

    listener = _Listener("127.0.0.1")
    deadline = time.monotonic() + 30

    def check() -> None:
        if time.monotonic() > deadline:
            raise _ResidentLost(TimeoutError("test deadline"))

    wrong = bytes(b ^ 0xFF for b in listener.token)
    stranger = socket.create_connection(listener.addr)
    task = socket.create_connection(listener.addr)
    try:
        stranger.sendall(wrong + pickle.dumps(_Tripwire()))
        task.sendall(listener.token + _HELLO.pack(0, 1))
        listener.accept(check)
        assert sorted(listener.conns) == [0]
        stranger.settimeout(10)
        try:
            assert stranger.recv(1) == b""
        except ConnectionResetError:
            pass
    finally:
        stranger.close()
        task.close()
        listener.close()
    assert _LOADED == []


def test_noprep_worker_class_unaffected():
    """Engine's prepare detection is by method identity — a worker that
    never overrides prepare must raise NotImplementedError if called."""
    from guagua_spark.algorithms import SumWorker

    with pytest.raises(NotImplementedError):
        SumWorker().prepare(iter([]))


def test_partial_barrier_with_prepared_worker(spark, caplog):
    """min_workers_ratio < 1 keeps a prepared run resident — the
    barrier must deliver the full-barrier model when nobody straggles."""
    rounds = LOAD_ONCE_MIN_ROUNDS + 1
    engine = IterativeEngine(spark)
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        barrier = engine.run(
            GradientDescentMaster(dim=2, learning_rate=0.5),
            LogisticGradientWorker(("f1", "f2"), "label"),
            _train_df(spark),
            total_iteration=rounds,
            min_workers_ratio=0.5,
            min_workers_timeout=120.0,
        )
    assert _paths(caplog) == ["resident"]
    full = _run(spark, rounds)
    np.testing.assert_array_equal(barrier.weights, full.weights)


class _KillAlways(WorkerInterceptor):
    """Fault injection: the Python worker running partition 1 exits in
    iteration 2, on every attempt."""

    def pre_iteration(self, context) -> None:
        if context.current_iteration == 2 and context.partition_id == 1:
            os._exit(1)


def test_worker_dying_on_every_attempt_ends_run(spark, caplog):
    """A worker that always dies: the resident job is lost, the blob
    job that finishes the run fails too, and run() raises that error
    with its class — in bounded time, neither hanging nor looping. The
    next resident run still gets its task slots."""
    rounds = LOAD_ONCE_MIN_ROUNDS + 2
    t0 = time.monotonic()
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        with pytest.raises(Exception) as failed:
            _run(spark, rounds, worker_interceptors=[_KillAlways()])
    assert time.monotonic() - t0 < 120
    assert _paths(caplog) == ["resident"]
    lost = [
        m for m in caplog.messages
        if re.match(r"resident job lost at iteration 2 \(\w+(Error|Exception):", m)
    ]
    assert len(lost) == 1, caplog.messages
    assert type(failed.value).__name__.endswith(("Error", "Exception"))
    assert "Python worker exited unexpectedly" in str(failed.value)
    model = _run(spark, rounds)
    np.testing.assert_allclose(model.weights, _replay(spark, rounds), rtol=1e-9)


def test_checkpoint_resume_into_resident_run(spark, caplog, tmp_path):
    """A run stopped by a master error resumes from the checkpoint before
    it with LOAD_ONCE_MIN_ROUNDS - 1 rounds left on the resident path,
    and ends with the model of an uninterrupted run, bit for bit."""
    rounds = LOAD_ONCE_MIN_ROUNDS + 2
    left = LOAD_ONCE_MIN_ROUNDS - 1
    ckpt = str(tmp_path / "ckpt")

    class _FailLate(_FailAt):
        at = rounds - left + 1

    with pytest.raises(RuntimeError, match=f"iteration {_FailLate.at}"):
        IterativeEngine(spark, checkpoint_dir=ckpt, checkpoint_interval=1).run(
            _FailLate(dim=2, learning_rate=0.5),
            LogisticGradientWorker(("f1", "f2"), "label"),
            _train_df(spark),
            total_iteration=rounds,
        )
    engine = IterativeEngine(spark, checkpoint_dir=ckpt, checkpoint_interval=1)
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        resumed = engine.run(
            GradientDescentMaster(dim=2, learning_rate=0.5),
            LogisticGradientWorker(("f1", "f2"), "label"),
            _train_df(spark),
            total_iteration=rounds,
        )
    assert f"resuming from checkpoint at iteration {_FailLate.at}" in caplog.messages
    assert any(
        m.startswith(f"resident path: {left} rounds") for m in caplog.messages
    )
    assert len(engine.iteration_seconds) == left
    np.testing.assert_array_equal(resumed.weights, _run(spark, rounds).weights)
