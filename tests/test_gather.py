"""The one way up: every per-iteration task sends its partial over the
run's socket, so an iteration is ONE Spark job, and the driver's gather
keeps the first complete frame of this iteration per partition, never
unpickling a stale or duplicate frame. Also: run() keeps a cache it did
not make."""

from __future__ import annotations

import logging
import pickle
import socket
import time

from pyspark.storagelevel import StorageLevel

from guagua_spark.algorithms.gradient import (
    GradientDescentMaster,
    LogisticGradientWorker,
)
from guagua_spark.algorithms.sum_ import SumMaster, SumWorker
from guagua_spark.api import MasterInterceptor
from guagua_spark.engine import (
    _HELLO,
    _UP,
    LOAD_ONCE_MIN_ROUNDS,
    IterativeEngine,
    _Listener,
)
from test_load_once import _paths, _train_df


class _JobsPerIteration(MasterInterceptor):
    """Puts each iteration's Spark jobs in a job group of their own and
    counts them after the iteration."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.jobs: list[int] = []

    def pre_iteration(self, context) -> None:
        group = f"jobs-per-iteration-{id(self)}-{context.current_iteration}"
        self.sc.setJobGroup(group, "counted")

    def post_iteration(self, context) -> None:
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.jobs.append(len(self.sc.statusTracker().getJobIdsForGroup(group)))

    def post_application(self, context) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def _sum_df(spark, partitions: int = 2):
    rdd = spark.sparkContext.parallelize(
        [(1,), (2,), (3,), (2,), (3,), (4,)], partitions
    )
    return spark.createDataFrame(rdd, "value long")


def test_arrow_iteration_is_one_job(spark):
    count = _JobsPerIteration(spark.sparkContext)
    result = IterativeEngine(spark).run(
        SumMaster(), SumWorker(), _sum_df(spark, 4), total_iteration=3,
        interceptors=[count],
    )
    assert result.value == 15 * (1 + 4 + 16)  # Mₙ = 4·Mₙ₋₁ + 15
    assert count.jobs == [1, 1, 1]


def test_blob_iteration_is_one_job(spark, caplog):
    """8 partitions on the 4 task slots of local[4]: the blob path, and
    its first iteration (which also persists the prepared blobs) is one
    Spark job, like every later one."""
    count = _JobsPerIteration(spark.sparkContext)
    with caplog.at_level(logging.INFO, logger="guagua_spark.engine"):
        IterativeEngine(spark).run(
            GradientDescentMaster(dim=2, learning_rate=0.5),
            LogisticGradientWorker(("f1", "f2"), "label"),
            _train_df(spark, partitions=8),
            total_iteration=LOAD_ONCE_MIN_ROUNDS,
            interceptors=[count],
        )
    assert _paths(caplog) == ["blob"]
    assert "blob path: 8 partitions > 4 task slots" in caplog.messages
    assert count.jobs == [1] * LOAD_ONCE_MIN_ROUNDS


def test_run_keeps_a_cache_it_did_not_make(spark):
    df = _sum_df(spark).persist()
    df.count()
    IterativeEngine(spark).run(SumMaster(), SumWorker(), df, total_iteration=2)
    assert df.is_cached
    assert df.storageLevel != StorageLevel.NONE
    df.unpersist()
    # what run() persisted itself, it unpersists
    own = _sum_df(spark)
    IterativeEngine(spark).run(SumMaster(), SumWorker(), own, total_iteration=2)
    assert own.storageLevel == StorageLevel.NONE


_LOADED: list[bool] = []


def _trip() -> None:
    _LOADED.append(True)


class _Tripwire:
    """Unpickling this sets a flag."""

    def __reduce__(self):
        return (_trip, ())


def test_gather_keeps_first_current_frame_per_partition():
    """A frame of an older iteration and a second frame for a partition
    are read and dropped unpickled; the master gets each partition's
    first frame of this iteration, in partition order."""
    listener = _Listener("127.0.0.1")
    deadline = time.monotonic() + 30

    def check() -> None:
        assert time.monotonic() < deadline, "gather did not finish"

    def task(pid: int, iteration: int, result) -> socket.socket:
        payload = pickle.dumps(result)
        sock = socket.create_connection(listener.addr)
        sock.sendall(
            listener.token + _HELLO.pack(pid, 0)
            + _UP.pack(iteration, len(payload), False) + payload
        )
        return sock

    socks = [
        task(1, 1, _Tripwire()),  # stale: iteration 1
        task(1, 2, 7),
        task(1, 2, _Tripwire()),  # a second attempt of partition 1
        task(0, 2, 5),
    ]
    try:
        got = listener.gather(2, {0, 1}, 2, check)
        assert got.results() == [5, 7]
        assert not got.all_halt()
    finally:
        for sock in socks:
            sock.close()
        listener.close()
    assert _LOADED == []
