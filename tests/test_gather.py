"""One way down and up: every per-iteration task gets the master result
and sends its partial over the run's socket, so an iteration is ONE
Spark job whose function is built once per run, and the driver's
gather keeps the first complete frame of this iteration per partition,
never unpickling a stale or duplicate frame. Also: run() keeps a cache
it did not make and releases what it took when its setup fails."""

from __future__ import annotations

import logging
import pickle
import socket
import threading
import time

import pytest
from pyspark.storagelevel import StorageLevel

from guagua_spark import engine
from guagua_spark.algorithms.gradient import (
    GradientDescentMaster,
    LogisticGradientWorker,
)
from guagua_spark.algorithms.sum_ import SumMaster, SumWorker
from guagua_spark.api import MasterInterceptor
from guagua_spark.engine import (
    _DOWN,
    _HELLO,
    _STOP,
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


@pytest.fixture
def built(monkeypatch) -> list[str]:
    """The path of every task function run() builds. The function
    carries neither the model nor the iteration, so a per-iteration path
    builds it, and its job, once per run."""
    paths: list[str] = []
    real = engine._make_task_fn

    def make_task_fn(path, *args, **kwargs):
        paths.append(path)
        return real(path, *args, **kwargs)

    monkeypatch.setattr(engine, "_make_task_fn", make_task_fn)
    return paths


def test_arrow_iteration_is_one_job(spark, built):
    count = _JobsPerIteration(spark.sparkContext)
    result = IterativeEngine(spark).run(
        SumMaster(), SumWorker(), _sum_df(spark, 4), total_iteration=3,
        interceptors=[count],
    )
    assert result.value == 15 * (1 + 4 + 16)  # Mₙ = 4·Mₙ₋₁ + 15
    assert count.jobs == [1, 1, 1]
    assert built == ["arrow"]


def test_blob_iteration_is_one_job(spark, caplog, built):
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
    assert built == ["blob"]


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


class _InitFails(SumMaster):
    def init(self, context) -> None:
        raise RuntimeError("master init failed")


def test_run_releases_what_it_took_when_setup_fails(spark, monkeypatch):
    """An exception from master.init unpersists what run() persisted and
    closes the run's listener, on the Arrow and the resident path."""
    listeners = []

    class Recorded(_Listener):
        def __init__(self, *args, **kwargs) -> None:
            super().__init__(*args, **kwargs)
            listeners.append(self)

    monkeypatch.setattr(engine, "_Listener", Recorded)
    df = _sum_df(spark)
    with pytest.raises(RuntimeError, match="master init failed"):
        IterativeEngine(spark).run(_InitFails(), SumWorker(), df)
    assert df.storageLevel == StorageLevel.NONE
    with pytest.raises(RuntimeError, match="master init failed"):
        IterativeEngine(spark).run(
            _InitFails(), LogisticGradientWorker(("f1", "f2"), "label"),
            _train_df(spark),
        )
    (listener,) = listeners  # the resident path's
    assert listener.sock.fileno() == -1


_LOADED: list[bool] = []


def _trip() -> None:
    _LOADED.append(True)


class _Tripwire:
    """Unpickling this sets a flag."""

    def __reduce__(self):
        return (_trip, ())


def test_gather_keeps_first_current_frame_per_partition():
    """Per-iteration tasks say hello, read this iteration's _DOWN frame,
    send one _UP frame and get _STOP. A frame of an older iteration and
    a second frame for a partition are read and dropped unpickled; the
    master gets each partition's first frame of this iteration, in
    partition order. A hello for a partition already gathered gets
    _STOP at once, and a connection with a wrong token gets nothing."""
    listener = _Listener("127.0.0.1")
    model = pickle.dumps("model")
    frame = _DOWN.pack(2, len(model)) + model
    deadline = time.monotonic() + 30

    def check() -> None:
        assert time.monotonic() < deadline, "gather did not finish"

    def hello(pid: int, token: bytes = listener.token) -> socket.socket:
        sock = socket.create_connection(listener.addr)
        sock.settimeout(30)
        sock.sendall(token + _HELLO.pack(pid, 0))
        return sock

    def read(sock: socket.socket, n: int) -> bytes:
        data = b""
        while len(data) < n:
            chunk = sock.recv(n - len(data))
            assert chunk, f"closed after {len(data)} of {n} bytes"
            data += chunk
        return data

    def superstep(sock: socket.socket, iteration: int, result) -> None:
        """Read the _DOWN frame, send one _UP frame; the driver answers
        with _STOP once it has read it, and hangs up."""
        assert read(sock, len(frame)) == frame
        payload = pickle.dumps(result)
        sock.sendall(_UP.pack(iteration, len(payload), False) + payload)
        assert read(sock, len(_STOP)) == _STOP
        assert sock.recv(1) == b""

    stale, first, second, other = hello(1), hello(1), hello(1), hello(0)
    stranger = hello(0, bytes(b ^ 0xFF for b in listener.token))
    socks = [stale, first, second, other, stranger]
    gathered = []
    gather = threading.Thread(
        target=lambda: gathered.append(listener.gather(2, frame, {0, 1}, 2,
                                                       check))
    )
    gather.start()
    try:
        superstep(stale, 1, _Tripwire())  # stale: iteration 1
        superstep(first, 2, 7)
        superstep(second, 2, _Tripwire())  # a second attempt of partition 1
        late = hello(1)  # partition 1 is gathered: _STOP, no model
        socks.append(late)
        assert read(late, len(_STOP)) == _STOP
        assert late.recv(1) == b""
        superstep(other, 2, 5)
        gather.join(30)
        (got,) = gathered
        assert got.results() == [5, 7]
        assert not got.all_halt()
        try:
            assert stranger.recv(1) == b""
        except ConnectionResetError:
            pass
    finally:
        for sock in socks:
            sock.close()
        gather.join(30)
        listener.close()
    assert _LOADED == []
