"""Row-blocked worker kernels: the NN backprop and the k-means distance
matrix run over fixed row blocks, so a worker's memory is bounded by the
block size, not by rows × hidden (or rows × k). These tests check the
blocked kernels against single-pass formulas written here, the mask-free
sigmoid against the split form it replaced, the memory ceiling on the
shape that used to kill full-batch workers, and the one-copy Arrow →
numpy conversion of ``prepare`` against the stacking form it replaced
(pure numpy, no Spark)."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from guagua_spark.algorithms.gradient import _features_matrix, sigmoid
from guagua_spark.algorithms.kmeans import (
    KMeansModel,
    KMeansWorker,
    _nearest_centroid,
)
from guagua_spark.algorithms.kmeans import _BLOCK_ROWS as KM_BLOCK
from guagua_spark.algorithms.nn import (
    _BLOCK_ROWS,
    NNModel,
    NNWorker,
    backprop,
    init_weights,
)
from guagua_spark.api import WorkerContext


def _split_sigmoid(z):
    """The split-form sigmoid the mask-free one replaced."""
    out = np.empty_like(z)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    ez = np.exp(z[~pos])
    out[~pos] = ez / (1.0 + ez)
    return out


def _bits(a):
    return a.view(np.uint64 if a.dtype == np.float64 else np.uint32)


def _assert_same_bits(z):
    got, want = sigmoid(z), _split_sigmoid(z)
    assert got.dtype == want.dtype and got.shape == want.shape
    assert np.array_equal(got, want, equal_nan=True)
    # NaN payloads and signs too
    assert np.array_equal(_bits(got), _bits(want))


def test_sigmoid_bit_identical_to_split_form():
    rng = np.random.default_rng(7)
    finite = [
        np.array([0.0, -0.0, 800.0, -800.0, 709.9, -709.9, 745.2, -745.2]),
        rng.normal(0.0, 20.0, 10_001),
        rng.normal(0.0, 5.0, (257, 33)),
        rng.normal(0.0, 20.0, (64, 9)).astype(np.float32),
        np.array([0.0, -0.0, 100.0, -100.0], dtype=np.float32),
    ]
    with np.errstate(over="raise", invalid="raise"):
        for z in finite:
            _assert_same_bits(z)
    special = np.array([np.inf, -np.inf, np.nan, -np.nan, 0.0, -0.0, 800.0])
    with np.errstate(all="ignore"):
        _assert_same_bits(special)
        _assert_same_bits(special.astype(np.float32))
        mixed = rng.normal(0.0, 10.0, 999)
        mixed[::7] = np.nan
        mixed[3::7] = -np.nan
        _assert_same_bits(mixed)


def _single_pass_backprop(weights, x, y):
    """Full-batch backprop of ½·SSE through sigmoid layers, one pass."""
    acts = [x]
    for w, b in weights:
        acts.append(_split_sigmoid(acts[-1] @ w + b))
    err = acts[-1] - y
    delta = err * acts[-1] * (1 - acts[-1])
    grads = [None] * len(weights)
    for li in range(len(weights) - 1, -1, -1):
        grads[li] = (acts[li].T @ delta, delta.sum(axis=0))
        if li > 0:
            delta = (delta @ weights[li][0].T) * acts[li] * (1 - acts[li])
    return grads, float(np.sum(err * err))


@pytest.mark.parametrize(
    "rows",
    [0, 1, _BLOCK_ROWS - 1, _BLOCK_ROWS, _BLOCK_ROWS + 1,
     int(2.5 * _BLOCK_ROWS)],
)
def test_blocked_backprop_matches_single_pass(rows):
    rng = np.random.default_rng(rows)
    weights = init_weights([6, 9, 4, 1], seed=3)
    x = rng.normal(size=(rows, 6))
    y = (rng.random((rows, 1)) > 0.5).astype(np.float64)
    grads, sse = backprop(weights, x, y)
    want, want_sse = _single_pass_backprop(weights, x, y)
    np.testing.assert_allclose(sse, want_sse, rtol=1e-10)
    for (gw, gb), (ww, wb) in zip(grads, want):
        assert gw.shape == ww.shape and gb.shape == wb.shape
        np.testing.assert_allclose(gw, ww, rtol=1e-10, atol=1e-12)
        np.testing.assert_allclose(gb, wb, rtol=1e-10, atol=1e-12)


def test_nn_worker_split_and_test_error_match_single_pass():
    """prepare splits once by the row-hash rule; compute_prepared's
    train and held-out errors equal single-pass formulas."""
    import pyarrow as pa

    rows, rate = int(2.5 * _BLOCK_ROWS), 0.2
    rng = np.random.default_rng(11)
    x = rng.normal(size=(rows, 3))
    y = (rng.random(rows) > 0.5).astype(np.float64)
    batch = pa.RecordBatch.from_pydict(
        {"a": x[:, 0], "b": x[:, 1], "c": x[:, 2], "t": y}
    )
    worker = NNWorker(("a", "b", "c"), "t", validation_rate=rate)
    xtr, ytr, xte, yte = data = worker.prepare(iter([batch]))
    is_test = (np.arange(rows) * 2654435761 % 1000) < rate * 1000
    np.testing.assert_array_equal(xtr, x[~is_test])
    np.testing.assert_array_equal(xte, x[is_test])
    np.testing.assert_array_equal(yte[:, 0], y[is_test])

    weights = init_weights([3, 5, 1], seed=1)
    ctx = WorkerContext(1, 1, NNModel(weights=weights))
    got = worker.compute_prepared(ctx, data)
    want, want_sse = _single_pass_backprop(weights, xtr, ytr)
    out = _split_sigmoid(
        _split_sigmoid(xte @ weights[0][0] + weights[0][1]) @ weights[1][0]
        + weights[1][1]
    )
    assert (got.train_count, got.test_count) == (len(xtr), len(xte))
    np.testing.assert_allclose(got.train_sse, want_sse, rtol=1e-10)
    np.testing.assert_allclose(
        got.test_sse, float(np.sum((out - yte) ** 2)), rtol=1e-10
    )
    for (gw, gb), (ww, wb) in zip(got.grads, want):
        np.testing.assert_allclose(gw, ww, rtol=1e-10, atol=1e-12)
        np.testing.assert_allclose(gb, wb, rtol=1e-10, atol=1e-12)


#: allowed growth of traced memory over the input arrays for one
#: [20,512,1] step on 250k rows. One full-batch activation alone is
#: 250k × 512 × 8 B ≈ 1 GB.
NN_CEILING_MB = 64


def test_nn_worker_memory_bounded_on_wide_hidden_layer():
    rows, layers = 250_000, [20, 512, 1]
    rng = np.random.default_rng(5)
    x = rng.standard_normal((rows, layers[0]))
    y = (rng.random((rows, 1)) > 0.5).astype(np.float64)
    data = (x, y, x[:0], y[:0])  # NNWorker.prepare's output at rate 0
    worker = NNWorker([f"f{i}" for i in range(layers[0])], "label")
    ctx = WorkerContext(1, 1, NNModel(weights=init_weights(layers)))
    tracemalloc.start()
    try:
        got = worker.compute_prepared(ctx, data)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert got.train_count == rows and np.isfinite(got.train_sse)
    assert peak < NN_CEILING_MB * 2**20, f"peak {peak / 2**20:.1f} MB"


def test_kmeans_blocked_assignment_matches_single_pass():
    rng = np.random.default_rng(9)
    rows, dim, k = int(2.5 * KM_BLOCK), 8, 5
    x = rng.normal(size=(rows, dim))
    centroids = rng.normal(size=(k, dim))
    tags = _nearest_centroid(x, centroids)
    d2 = -2.0 * (x @ centroids.T) + np.sum(centroids**2, axis=1)
    want_tags = np.argmin(d2, axis=1)
    np.testing.assert_array_equal(tags, want_tags)

    got = KMeansWorker(k).compute_prepared(
        WorkerContext(2, 2, KMeansModel(centroids=centroids)), x
    )
    want_sums = np.zeros((k, dim))
    np.add.at(want_sums, want_tags, x)
    np.testing.assert_array_equal(got.sums, want_sums)
    np.testing.assert_array_equal(
        got.counts, np.bincount(want_tags, minlength=k).astype(np.float64)
    )
    assert _nearest_centroid(x[:0], centroids).shape == (0,)


# -- prepare's Arrow → numpy conversion -------------------------------------


def _stacked_features(batches, cols, label, bias):
    """The three-copy form _features_matrix replaced: stack each batch's
    columns, concatenate the stacks, then prepend the bias column."""
    xs, ys = [], []
    for batch in batches:
        stacked = np.column_stack(
            [batch.column(c).to_numpy(zero_copy_only=False) for c in cols]
        )
        xs.append(stacked.astype(np.float64, copy=False))
        ys.append(
            batch.column(label)
            .to_numpy(zero_copy_only=False)
            .astype(np.float64, copy=False)
        )
    if not xs:
        x, y = np.zeros((0, len(cols))), np.zeros(0)
    else:
        x, y = np.concatenate(xs), np.concatenate(ys)
    if bias:
        x = np.concatenate([np.ones((x.shape[0], 1)), x], axis=1)
    return x, y


def _stacked_nn_prepare(batches, cols, label, rate):
    """NNWorker.prepare before it used _features_matrix."""
    x, y = _stacked_features(batches, cols, label, bias=False)
    y = y.reshape(-1, 1)
    if rate <= 0:
        return x, y, x[:0], y[:0]
    is_test = (np.arange(x.shape[0]) * 2654435761 % 1000) < rate * 1000
    return x[~is_test], y[~is_test], x[is_test], y[is_test]


def _typed_batches(rows: int, cuts) -> list[pa.RecordBatch]:
    """int64, int32, bool, float32 and float64 columns and an int64
    label, cut into batches at ``cuts`` (an empty batch included)."""
    r = np.random.default_rng(rows)
    table = pa.table({
        "i64": r.integers(-2**40, 2**40, rows),
        "i32": r.integers(-2**31, 2**31, rows, dtype=np.int32),
        "flag": r.random(rows) > 0.5,
        "f32": r.standard_normal(rows).astype(np.float32),
        "f64": r.standard_normal(rows),
        "label": r.integers(0, 2, rows),
    })
    edges = [0, *cuts, rows]
    return [
        table.slice(lo, hi - lo).combine_chunks().to_batches()[0]
        if hi > lo else pa.RecordBatch.from_pylist([], schema=table.schema)
        for lo, hi in zip(edges[:-1], edges[1:])
    ]


def _assert_bits_equal(got, want):
    assert got.dtype == want.dtype == np.float64
    assert got.shape == want.shape
    assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


#: column sets: one of each type; float32 with bool, which the stacking
#: form promoted to float32 before its float64 cast; float64 alone
COLUMN_SETS = [
    ("i64", "i32", "flag", "f32", "f64"),
    ("f32", "flag"),
    ("f64",),
]
BATCHINGS = {
    "no batches": (0, None),
    "one batch": (700, ()),
    "many batches": (2_500, (400, 400, 1_000, 1_999)),
}


@pytest.mark.parametrize("cols", COLUMN_SETS, ids=lambda c: "+".join(c))
@pytest.mark.parametrize("batching", sorted(BATCHINGS))
@pytest.mark.parametrize("bias", [True, False])
def test_features_matrix_equals_stacking_bit_for_bit(cols, batching, bias):
    rows, cuts = BATCHINGS[batching]
    batches = [] if cuts is None else _typed_batches(rows, cuts)
    x, y = _features_matrix(iter(batches), cols, "label", bias=bias)
    want_x, want_y = _stacked_features(batches, cols, "label", bias)
    _assert_bits_equal(x, want_x)
    _assert_bits_equal(y, want_y)


@pytest.mark.parametrize("rate", [0.0, 0.2])
@pytest.mark.parametrize("batching", sorted(BATCHINGS))
def test_nn_prepare_equals_stacking_bit_for_bit(batching, rate):
    rows, cuts = BATCHINGS[batching]
    batches = [] if cuts is None else _typed_batches(rows, cuts)
    cols = COLUMN_SETS[0]
    got = NNWorker(cols, "label", rate).prepare(iter(batches))
    want = _stacked_nn_prepare(batches, cols, "label", rate)
    for g, w in zip(got, want, strict=True):
        _assert_bits_equal(g, w)


#: traced bytes a conversion may use beyond its output and one batch:
#: the batch list and numpy's casting buffers
CONVERSION_SLACK = 256 * 1024


@pytest.mark.parametrize("convert", ["features matrix", "nn prepare"])
def test_prepare_copies_the_partition_once(convert):
    """The stacking form peaked at three copies of the partition (the
    stacks, their concatenation and the bias concatenation)."""
    rows, dim, batch_rows = 100_000, 20, 10_000
    r = np.random.default_rng(3)
    cols = [f"f{i}" for i in range(dim)]
    arrays = [pa.array(r.standard_normal(rows)) for _ in range(dim + 1)]
    table = pa.table(arrays, names=[*cols, "label"])
    batches = table.to_batches(max_chunksize=batch_rows)
    assert len(batches) == rows // batch_rows
    tracemalloc.start()
    try:
        if convert == "features matrix":
            out = _features_matrix(iter(batches), cols, "label")
        else:
            out = NNWorker(cols, "label").prepare(iter(batches))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    output = out[0].nbytes + out[1].nbytes  # X and y
    one_batch = batch_rows * (dim + 1) * 8
    assert peak <= output + one_batch + CONVERSION_SLACK, (
        f"peak {peak / 2**20:.1f} MB, output {output / 2**20:.1f} MB"
    )
