"""Models past 256 KB pickled go down the run's socket like any other:
k-means with k=512 centroids of 96 doubles (393 KB a model) on both
per-iteration paths, against the resident path and a numpy replay."""

from __future__ import annotations

import logging
import pickle

import numpy as np

from guagua_spark.algorithms.kmeans import (
    KMeansMaster,
    KMeansWorker,
    _batch_matrix,
    _nearest_centroid,
)
from guagua_spark.api import WorkerComputable
from guagua_spark.engine import IterativeEngine
from test_load_once import _paths

K, DIM, ROWS, ROUNDS = 512, 96, 4_800, 4


class StreamingKMeansWorker(KMeansWorker):
    """KMeansWorker without ``prepare``: the Arrow path."""

    prepare = WorkerComputable.prepare

    def compute(self, context, batches):
        return self.compute_prepared(
            context, _batch_matrix(batches, self.vector_col)
        )


def _vectors() -> np.ndarray:
    return np.random.default_rng(7).standard_normal((ROWS, DIM))


def _df(spark, partitions: int):
    rows = [(v.tolist(),) for v in _vectors()]
    rdd = spark.sparkContext.parallelize(rows, partitions)
    return spark.createDataFrame(rdd, "embedding array<double>")


def _train(spark, worker, partitions: int, caplog) -> np.ndarray:
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="guagua_spark.engine"):
        model = IterativeEngine(spark).run(
            KMeansMaster(K, tolerance=0.0, init_centroids=_vectors()[:K]),
            worker, _df(spark, partitions), total_iteration=ROUNDS,
        )
    # iteration 1 ships no model (init round); every later one ships this
    assert len(pickle.dumps(model)) > 256 * 1024
    return model.centroids


def _replay() -> np.ndarray:
    """Lloyd's iterations over all rows at once: iteration 1 returns the
    init centroids, each later one the cluster means."""
    x = _vectors()
    centroids = x[:K].copy()
    for _ in range(ROUNDS - 1):
        tags = _nearest_centroid(x, centroids)
        sums = np.zeros((K, DIM))
        np.add.at(sums, tags, x)
        counts = np.bincount(tags, minlength=K)
        mask = counts > 0
        centroids[mask] = sums[mask] / counts[mask, None]
    return centroids


def test_big_model_on_the_blob_path(spark, caplog):
    centroids = _train(spark, KMeansWorker(K), 8, caplog)
    assert _paths(caplog) == ["blob"]
    np.testing.assert_allclose(centroids, _replay(), rtol=1e-9)


def test_big_model_on_the_arrow_path(spark, caplog):
    centroids = _train(spark, StreamingKMeansWorker(K), 4, caplog)
    assert _paths(caplog) == ["arrow"]
    resident = _train(spark, KMeansWorker(K), 4, caplog)
    assert _paths(caplog) == ["resident"]
    assert centroids.tobytes() == resident.tobytes()
    np.testing.assert_allclose(centroids, _replay(), rtol=1e-9)
