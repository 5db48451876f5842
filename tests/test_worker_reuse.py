"""Engine tasks read their whole input, so PySpark reuses their Python
workers: a run of many short tasks forks a handful of processes, not one
per task, and a reused worker keeps shipping.install_zip_check."""

from __future__ import annotations

import logging
import os
import sys
import zipimport

import pytest
from pyspark.accumulators import AccumulatorParam

from guagua_spark.algorithms.gradient import (
    GradientDescentMaster,
    LogisticGradientWorker,
)
from guagua_spark.api import WorkerInterceptor
from guagua_spark.engine import IterativeEngine
from test_load_once import _paths, _train_df

PARTITIONS = 8  # > the 4 task slots of local[4]: the blob path
ROUNDS = 10


class _SetParam(AccumulatorParam):
    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


class _RecordPid(WorkerInterceptor):
    """Adds the Python worker's pid to an accumulator on every task."""

    def __init__(self, acc) -> None:
        self.acc = acc

    def pre_iteration(self, context) -> None:
        self.acc.add({os.getpid()})


def test_blob_path_reuses_python_workers(spark, caplog):
    sc = spark.sparkContext
    pids = sc.accumulator(set(), _SetParam())
    with caplog.at_level(logging.INFO, logger="guagua_spark.engine"):
        IterativeEngine(spark).run(
            GradientDescentMaster(dim=2, learning_rate=0.5),
            LogisticGradientWorker(("f1", "f2"), "label"),
            _train_df(spark, partitions=PARTITIONS),
            total_iteration=ROUNDS,
            worker_interceptors=[_RecordPid(pids)],
        )
    assert _paths(caplog) == ["blob"]
    slots = sc.defaultParallelism
    # a fresh process per task would give PARTITIONS * ROUNDS pids
    assert len(pids.value) <= 2 * slots, sorted(pids.value)

    if sys.version_info >= (3, 13):
        pytest.skip("no zip check to keep from Python 3.13 on")
    # a lambda pickles by value and imports no guagua module itself
    seen = (
        sc.parallelize(range(PARTITIONS), PARTITIONS)
        .map(
            lambda _: (
                os.getpid(),
                getattr(
                    zipimport.zipimporter.invalidate_caches,
                    "_guagua_zip_check",
                    False,
                ),
            )
        )
        .collect()
    )
    reused = {pid: checked for pid, checked in seen if pid in pids.value}
    assert reused, (seen, sorted(pids.value))
    assert all(reused.values()), seen
