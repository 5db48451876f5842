"""ALS on the IterativeEngine vs its serial-numpy golden replay.

The replay shares the actual solvers (solve_users / solve_items /
init_item_factors) with the engine path, so the comparison pins the
BSP orchestration — partitioning, combine, broadcast, halt — not a
re-derivation of the math. Engine and replay may differ only by float
summation order (per-partition partials summed in partition order
against the replay's own order), hence the 1e-8 tolerance.
"""

from __future__ import annotations

import numpy as np
import pytest

from guagua_spark.algorithms.als import (
    ALS_RANK,
    AlsMaster,
    AlsPartial,
    AlsWorker,
    als_serial_replay,
    init_item_factors,
    solve_users,
)
from guagua_spark.engine import IterativeEngine


def _toy_ratings(n_users: int = 40, n_items: int = 12, seed: int = 7):
    """Deterministic dense-ish toy ratings from a planted low-rank
    model + index-derived noise (no RNG stream: reproducible by
    value, not by numpy version)."""
    xs = init_item_factors(n_users, ALS_RANK) * 5.0
    ys = init_item_factors(n_items + 1000, ALS_RANK)[1000:] * 5.0
    users, items, ratings = [], [], []
    for u in range(n_users):
        for i in range(n_items):
            if (u * 31 + i * 17 + seed) % 3 == 0:
                continue  # deterministic sparsity
            r = float(xs[u] @ ys[i]) + ((u * 13 + i * 7) % 5 - 2) * 0.01
            users.append(u)
            items.append(i)
            ratings.append(r)
    return (
        np.array(users, dtype=np.int64),
        np.array(items, dtype=np.int64),
        np.array(ratings, dtype=np.float64),
        n_items,
    )


def _as_df(spark, users, items, ratings, partitions=4):
    rows = [
        (int(u), int(i), float(r)) for u, i, r in zip(users, items, ratings)
    ]
    return spark.createDataFrame(
        rows, "user long, item long, rating double"
    ).repartition(partitions, "user")


def test_engine_matches_serial_replay(spark):
    users, items, ratings, n_items = _toy_ratings()
    df = _as_df(spark, users, items, ratings)
    model = IterativeEngine(spark).run(
        AlsMaster(n_items),
        AlsWorker(n_items),
        df,
        total_iteration=5,
    )
    golden = als_serial_replay(users, items, ratings, n_items, 5)
    assert model.iteration == golden.iteration
    np.testing.assert_allclose(
        model.item_factors, golden.item_factors, rtol=1e-8, atol=1e-10
    )
    assert model.rmse == pytest.approx(golden.rmse, rel=1e-8)
    # training actually fits the planted model
    assert model.rmse < 0.5


def test_replay_partition_invariance(spark):
    """2 vs 8 partitions: same user co-location law, same result to
    combine-order noise."""
    users, items, ratings, n_items = _toy_ratings()
    m2 = IterativeEngine(spark).run(
        AlsMaster(n_items),
        AlsWorker(n_items),
        _as_df(spark, users, items, ratings, partitions=2),
        total_iteration=3,
    )
    m8 = IterativeEngine(spark).run(
        AlsMaster(n_items),
        AlsWorker(n_items),
        _as_df(spark, users, items, ratings, partitions=8),
        total_iteration=3,
    )
    np.testing.assert_allclose(
        m2.item_factors, m8.item_factors, rtol=1e-8, atol=1e-10
    )


def test_partials_combine_associatively():
    """AlsPartial.combine is plain addition — split-vs-whole equality,
    the Combinable contract the executor-side tree combine relies on."""
    users, items, ratings, n_items = _toy_ratings()
    y = init_item_factors(n_items)
    w = AlsWorker(n_items)

    class _Ctx:
        last_master_result = None
        partition_id = 0

    # cut on a user boundary: a user straddling the split would be
    # re-solved per half against partial rating sets (the engine's
    # hash co-location forbids exactly that)
    cut = int(np.searchsorted(np.sort(users), 20))
    order = np.argsort(users, kind="stable")
    su, si, sr = users[order], items[order], ratings[order]
    a = w.compute_prepared(_Ctx(), (su[:cut], si[:cut], sr[:cut]))
    b = w.compute_prepared(_Ctx(), (su[cut:], si[cut:], sr[cut:]))
    whole = w.compute_prepared(_Ctx(), (su, si, sr))
    merged = a.combine(b)
    np.testing.assert_allclose(merged.a, whole.a, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(merged.b, whole.b, rtol=1e-12, atol=1e-12)
    np.testing.assert_array_equal(merged.c, whole.c)
    assert merged.n == whole.n
    assert merged.sse == pytest.approx(whole.sse, rel=1e-12)


def test_solve_users_row_scatter():
    """solve_users returns factors gathered back to RAW row order."""
    users = np.array([3, 1, 3, 2], dtype=np.int64)
    items = np.array([0, 1, 1, 0], dtype=np.int64)
    ratings = np.array([1.0, 2.0, 3.0, 4.0])
    y = init_item_factors(2)
    x_rows, uniq = solve_users(users, items, ratings, y)
    assert list(uniq) == [1, 2, 3]
    np.testing.assert_array_equal(x_rows[0], x_rows[2])  # both user 3


def test_halt_on_convergence(spark):
    """A long budget halts early via movement < tol, and the reported
    iteration matches the replay's halt point."""
    users, items, ratings, n_items = _toy_ratings(n_users=10, n_items=4)
    df = _as_df(spark, users, items, ratings, partitions=2)
    model = IterativeEngine(spark).run(
        AlsMaster(n_items, tolerance=1e-3),
        AlsWorker(n_items),
        df,
        total_iteration=40,
    )
    golden = als_serial_replay(
        users, items, ratings, n_items, 40, tolerance=1e-3
    )
    assert model.halt and golden.halt
    assert model.iteration == golden.iteration
    assert model.iteration < 40


def test_partial_barrier_path(spark):
    """ALS through min_workers_ratio < 1: the run completes and the
    master tolerates a short worker-result list (partials are
    pre-combined addition — dropped workers just contribute nothing
    that iteration)."""
    users, items, ratings, n_items = _toy_ratings()
    df = _as_df(spark, users, items, ratings, partitions=4)
    model = IterativeEngine(spark).run(
        AlsMaster(n_items),
        AlsWorker(n_items),
        df,
        total_iteration=3,
        min_workers_ratio=0.5,
        min_workers_timeout=120.0,
    )
    assert model.item_factors.shape == (n_items, ALS_RANK)
    assert np.isfinite(model.rmse)


def test_als_train_local_row(spark, oracle_sf_dir):
    """The LOCAL host row: catalog-bounded output, factors equal to the
    serial replay of the same ratings at 1e-6 (the row rounds to 6dp)."""
    import duckdb

    from guagua_spark.operators.iterative import (
        ALS_ITERATIONS,
        LOCAL_QUERIES,
    )

    rows = LOCAL_QUERIES["als_train"](spark, oracle_sf_dir).collect()
    con = duckdb.connect()
    got = con.execute(
        f"""SELECT o_custkey AS u, l_partkey AS i, l_quantity AS r
        FROM read_parquet('{oracle_sf_dir}/lineitem.parquet') li
        JOIN read_parquet('{oracle_sf_dir}/orders.parquet') o
          ON l_orderkey = o_orderkey
        ORDER BY u, i, r"""
    ).fetchnumpy()
    n_items = int(
        con.execute(
            "SELECT MAX(p_partkey) FROM "
            f"read_parquet('{oracle_sf_dir}/part.parquet')"
        ).fetchone()[0]
    ) + 1
    golden = als_serial_replay(
        got["u"].astype(np.int64),
        got["i"].astype(np.int64),
        got["r"].astype(np.float64),
        n_items,
        ALS_ITERATIONS,
    )
    by_item = {r["item"]: r for r in rows}
    rated = sorted(set(got["i"].tolist()))
    assert sorted(by_item) == [int(i) for i in rated]
    for i in rated[:: max(1, len(rated) // 50)]:
        row = by_item[int(i)]
        for f in range(ALS_RANK):
            assert row[f"f{f}"] == pytest.approx(
                golden.item_factors[i, f], abs=5e-6
            )
    assert rows[0]["rmse"] == pytest.approx(golden.rmse, abs=5e-6)
    assert rows[0]["iterations"] == golden.iteration
