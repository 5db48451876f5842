"""GBT on the IterativeEngine vs its serial-numpy golden replay.

The replay shares the actual binning / routing / histogram / split
code (bin_matrix, route, predict, best_split, grow_level) with the
engine path, so the comparison pins the BSP orchestration —
stats pass, per-level histograms, combine, broadcast, halt — not a
re-derivation of the math. All routing decisions are integer (bin
indices, split bins), so engine and replay may differ only by float
summation order inside the histograms; structure is compared exactly
and weights at 1e-8 (per-partition partials summed in partition order
against the replay's row order).
"""

from __future__ import annotations

import numpy as np
import pytest

from guagua_spark.algorithms.gbt import (
    GBT_BINS,
    GbtHistPartial,
    GbtMaster,
    GbtWorker,
    K_FEAT,
    K_KIND,
    K_LEFT,
    K_RIGHT,
    K_THR,
    K_W,
    bin_matrix,
    best_split,
    gbt_serial_replay,
    predict,
    route,
)
from guagua_spark.engine import IterativeEngine


def _toy_rows(n: int = 600, f: int = 3):
    """Deterministic features + a piecewise target (no RNG stream:
    reproducible by value, not by numpy version)."""
    x = np.empty((n, f))
    for j in range(f):
        x[:, j] = [((i * 37 + j * 101) % 97) / 97.0 for i in range(n)]
    y = (
        np.where(x[:, 0] > 0.5, 3.0, -1.0)
        + np.where(x[:, 1] > 0.25, 0.7, -0.2) * x[:, 2]
        + np.array([((i * 13) % 7 - 3) * 0.05 for i in range(n)])
    )
    return x, y


def _as_df(spark, x, y, partitions=4):
    rows = [
        (*[float(v) for v in x[i]], float(y[i])) for i in range(len(y))
    ]
    schema = ", ".join(f"f{j} double" for j in range(x.shape[1]))
    return spark.createDataFrame(rows, schema + ", y double").repartition(
        partitions
    )


def _trees_equal(a: list, b: list):
    assert len(a) == len(b)
    for ta, tb in zip(a, b):
        assert len(ta) == len(tb)
        for na, nb in zip(ta, tb):
            assert na[K_KIND] == nb[K_KIND]
            assert na[K_FEAT] == nb[K_FEAT]
            assert na[K_THR] == nb[K_THR]
            assert na[K_LEFT] == nb[K_LEFT]
            assert na[K_RIGHT] == nb[K_RIGHT]
            if na[K_KIND] == "leaf":
                assert na[K_W] == pytest.approx(nb[K_W], rel=1e-8, abs=1e-10)


def test_engine_matches_serial_replay(spark):
    x, y = _toy_rows()
    model = IterativeEngine(spark).run(
        GbtMaster(n_features=3),
        GbtWorker(n_features=3),
        _as_df(spark, x, y),
        total_iteration=12,
    )
    golden = gbt_serial_replay(x, y)
    assert model.halt and model.phase == "done"
    assert model.iteration == golden.iteration
    assert model.base_score == pytest.approx(
        golden.base_score, rel=1e-12
    )
    np.testing.assert_allclose(model.mins, golden.mins, rtol=1e-12)
    np.testing.assert_allclose(model.widths, golden.widths, rtol=1e-12)
    _trees_equal(model.trees, golden.trees)
    assert model.rmse == pytest.approx(golden.rmse, rel=1e-8)
    # boosting actually reduces error below the base-score residual
    resid = float(np.sqrt(np.mean((y - y.mean()) ** 2)))
    assert model.rmse < 0.6 * resid


def test_partition_invariance(spark):
    """2 vs 8 partitions: identical tree STRUCTURE (integer routing),
    weights equal to combine-order noise."""
    x, y = _toy_rows()
    m2 = IterativeEngine(spark).run(
        GbtMaster(n_features=3),
        GbtWorker(n_features=3),
        _as_df(spark, x, y, partitions=2),
        total_iteration=12,
    )
    m8 = IterativeEngine(spark).run(
        GbtMaster(n_features=3),
        GbtWorker(n_features=3),
        _as_df(spark, x, y, partitions=8),
        total_iteration=12,
    )
    _trees_equal(m2.trees, m8.trees)
    assert m2.rmse == pytest.approx(m8.rmse, rel=1e-10)


def test_hist_partials_combine_associatively():
    """GbtHistPartial.combine is plain addition — split-vs-whole
    equality, the Combinable contract the tree combine relies on.
    Unlike ALS there is NO co-location requirement: any row split is
    legal."""
    x, y = _toy_rows(n=200)
    golden = gbt_serial_replay(x, y, n_trees=1)
    w = GbtWorker(n_features=3)
    master = GbtMaster(n_features=3)

    class _Ctx:
        def __init__(self, results, prev):
            self.current_iteration = 2
            self.worker_results = results
            self.master_result = prev
            self.all_workers_halted = False

    class _WCtx:
        current_iteration = 2
        partition_id = 0

        def __init__(self, model):
            self.last_master_result = model

    # build the post-stats model via the master itself
    stats = w.compute_prepared(
        type("C", (), {"last_master_result": None})(), (x, y)
    )
    model0 = master.compute(_Ctx([stats], None))
    cut = 71
    a = w.compute_prepared(_WCtx(model0), (x[:cut], y[:cut]))
    b = w.compute_prepared(_WCtx(model0), (x[cut:], y[cut:]))
    whole = w.compute_prepared(_WCtx(model0), (x, y))
    merged = a.combine(b)
    np.testing.assert_allclose(
        merged.hist, whole.hist, rtol=1e-12, atol=1e-12
    )
    assert merged.n == whole.n
    assert merged.sse == pytest.approx(whole.sse, rel=1e-12)
    # and the master's split decision from the merged partial matches
    # the replay's level-0 decision for tree 1
    nxt = master.compute(_Ctx([merged], model0))
    root = nxt.cur[0]
    groot = golden.trees[0][0]
    assert root[K_KIND] == groot[K_KIND] == "split"
    assert (root[K_FEAT], root[K_THR]) == (groot[K_FEAT], groot[K_THR])


def test_routing_is_integer_exact():
    """route() on a hand-built tree: bin <= thr goes left, the whole
    path is integer arithmetic."""
    x = np.array([[0.0], [0.49], [0.51], [1.0]])
    mins, widths = np.array([0.0]), np.array([1.0 / GBT_BINS])
    binned = bin_matrix(x, mins, widths)
    # split at bin 15 (values < 0.5 left), children leaves
    tree = [
        ["split", 0, 15, 1, 2, 0.0],
        ["leaf", -1, -1, -1, -1, -1.0],
        ["leaf", -1, -1, -1, -1, 2.0],
    ]
    np.testing.assert_array_equal(route(tree, binned), [1, 1, 2, 2])
    np.testing.assert_allclose(
        predict([tree], binned, 10.0, lr=1.0), [9.0, 9.0, 12.0, 12.0]
    )


def test_best_split_prefers_clean_cut():
    """A perfectly separable gradient picks the separating bin."""
    hist = np.zeros((1, GBT_BINS, 2))
    hist[0, :8, 0] = -5.0  # strong negative gradient in low bins
    hist[0, :8, 1] = 10.0
    hist[0, 24:, 0] = 5.0
    hist[0, 24:, 1] = 10.0
    gain, f, t, g_l, h_l, g_r, h_r = best_split(hist)
    assert f == 0 and 7 <= t < 24
    assert gain > 0
    assert h_l + h_r == hist[0, :, 1].sum()


def test_partial_barrier_path(spark):
    """GBT through min_workers_ratio < 1: the run completes — dropped
    workers just thin the histogram that superstep (addition-combined
    partials)."""
    x, y = _toy_rows()
    model = IterativeEngine(spark).run(
        GbtMaster(n_features=3),
        GbtWorker(n_features=3),
        _as_df(spark, x, y, partitions=4),
        total_iteration=12,
        min_workers_ratio=0.5,
        min_workers_timeout=120.0,
    )
    assert model.halt and len(model.trees) == 3
    assert np.isfinite(model.rmse)


def test_gbt_train_local_row(spark, oracle_sf_dir):
    """The LOCAL host row: model-bounded output, structure + weights
    equal to the serial replay of the same lineitem rows at 1e-6 (the
    row rounds to 6dp)."""
    import duckdb

    from guagua_spark.operators.iterative import LOCAL_QUERIES

    rows = LOCAL_QUERIES["gbt_train"](spark, oracle_sf_dir).collect()
    con = duckdb.connect()
    got = con.execute(
        f"""SELECT CAST(l_quantity AS DOUBLE) AS f0,
               CAST(l_discount AS DOUBLE) AS f1,
               CAST(l_tax AS DOUBLE) AS f2,
               CAST(month(l_shipdate) AS DOUBLE) AS f3,
               l_extendedprice / 1000.0 AS y
        FROM read_parquet('{oracle_sf_dir}/lineitem.parquet')"""
    ).fetchnumpy()
    x = np.column_stack([got[f"f{j}"] for j in range(4)]).astype(
        np.float64
    )
    y = got["y"].astype(np.float64)
    golden = gbt_serial_replay(x, y)
    by_key = {(r["tree"], r["node"]): r for r in rows}
    n_nodes = sum(len(t) for t in golden.trees)
    assert len(rows) == n_nodes
    for t, nodes in enumerate(golden.trees):
        for nid, nd in enumerate(nodes):
            row = by_key[(t, nid)]
            assert row["kind"] == nd[K_KIND]
            if nd[K_KIND] == "split":
                assert row["feature"] == nd[K_FEAT]
                assert row["thr_bin"] == nd[K_THR]
                assert (row["left"], row["right"]) == (
                    nd[K_LEFT],
                    nd[K_RIGHT],
                )
            else:
                assert row["weight"] == pytest.approx(
                    nd[K_W], abs=5e-6
                )
    assert rows[0]["rmse"] == pytest.approx(golden.rmse, abs=5e-6)
    assert rows[0]["base_score"] == pytest.approx(
        golden.base_score, abs=5e-6
    )


def test_gbt_failover_resume_equals_uninterrupted(spark, tmp_path):
    """The engine's FailOverCommand analogue on the GBT workload:
    train with checkpointing and a 5-superstep budget (stats + tree 1
    + one level of tree 2), then resume the same checkpoint dir to
    the full budget — trees must equal an uninterrupted run (the
    master result carries bins + completed trees + the in-progress
    frontier, so resume needs no replay of completed supersteps)."""
    from guagua_spark.engine import IterativeEngine

    x, y = _toy_rows()
    df = _as_df(spark, x, y)
    ckpt = str(tmp_path / "gbt_ckpt")
    e1 = IterativeEngine(spark, checkpoint_dir=ckpt, checkpoint_interval=1)
    part = e1.run(
        GbtMaster(n_features=3),
        GbtWorker(n_features=3),
        df,
        total_iteration=5,
    )
    assert not part.halt and len(part.trees) >= 1
    e2 = IterativeEngine(spark, checkpoint_dir=ckpt, checkpoint_interval=1)
    m_res = e2.run(
        GbtMaster(n_features=3),
        GbtWorker(n_features=3),
        df,
        total_iteration=12,
    )
    assert len(e2.iteration_seconds) < 11  # completed supersteps skipped
    full = IterativeEngine(spark).run(
        GbtMaster(n_features=3),
        GbtWorker(n_features=3),
        df,
        total_iteration=12,
    )
    assert m_res.halt and full.halt
    _trees_equal(m_res.trees, full.trees)
    assert m_res.rmse == pytest.approx(full.rmse, rel=1e-10)


def test_gain_key_orders_distinct_gains():
    """The float32 gain-key demotion collapses only noise-level
    differences: two candidates whose true gains differ by ~1e-4
    relative still order correctly (the device can't mask a real
    difference)."""
    hist = np.zeros((1, GBT_BINS, 2))
    # two candidate cuts with close-but-distinct separation quality
    hist[0, 0, 0], hist[0, 0, 1] = -100.0, 50.0
    hist[0, 10, 0], hist[0, 10, 1] = 0.01, 50.0
    hist[0, 20, 0], hist[0, 20, 1] = 100.0, 50.0
    _, f, t, *_ = best_split(hist)
    # exhaustive check against full-precision argmax
    best_fp, at = None, None
    for tt in range(GBT_BINS - 1):
        g_l = hist[0, : tt + 1, 0].sum()
        h_l = hist[0, : tt + 1, 1].sum()
        g_r = hist[0, :, 0].sum() - g_l
        h_r = hist[0, :, 1].sum() - h_l
        if h_l <= 0 or h_r <= 0:
            continue
        gain = g_l**2 / (h_l + 1.0) + g_r**2 / (h_r + 1.0)
        if best_fp is None or gain > best_fp * (1 + 1e-7):
            best_fp, at = gain, tt
    assert t == at
