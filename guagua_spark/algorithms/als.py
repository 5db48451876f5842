"""ALS matrix factorization on the IterativeEngine — the fifth engine
workload (after Sum, LR/linear, NN, k-means, + BPE on the operator
side), chosen for its partial SHAPE: per-item k×k normal-equation
blocks, the large non-scalar Combinable payload the round-11 verdict
asked for (it exercises ``result_bytes_budget`` and the lazy-master
spill path with real freight, which only synthetic tests stressed).

BSP split (the guagua pattern — GuaguaConstants defaults, AllReduce
per superstep; design anchor ``AbstractMasterCoordinator.java:243-310``
for the two-pass lazy consumption the partials ride):

- the MASTER holds the ITEM factor matrix Y (catalog-sized — items are
  the part dimension, bounded by the catalog whatever the corpus), and
  broadcasts it each superstep;
- WORKERS hold the ratings partitioned by USER (hash co-location, so a
  user's rows never straddle workers): each superstep they solve their
  users' factors x_u exactly against the broadcast Y (ridge normal
  equations, k×k), then emit per-item partials
  ``A_i += Σ_u x_u x_uᵀ, b_i += Σ_u r_ui·x_u, c_i += |ratings of i|``
  — Combinable by plain addition;
- the master sums the partials in partition order and solves the item
  side ``(A_i + λ·c_i·I) y_i = b_i``, halting when max |ΔY| < tol.

Determinism: Y₀ is derived from md5 (engine-portable, same trick as
the LSH planes — similarity.py _planes), so a serial numpy replay
reproduces the whole run to float-combine noise (~1e-12; the golden
test compares at 1e-8: per-partition partials summed in partition
order against the replay's own order).

100 TB shape: the corpus-sized relation (ratings) is touched once per
superstep via the load-once worker cache; per-superstep traffic is the
item-block partials — O(catalog·k²) per worker, independent of corpus
rows — and the broadcast Y, O(catalog·k). Users never ship anywhere
(their factors are recomputed locally from the broadcast Y, the
standard stateless-ALS trade documented for BPE merges too).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa

from guagua_spark.api import (
    MasterComputable,
    MasterContext,
    WorkerComputable,
    WorkerContext,
)

ALS_RANK = 4
ALS_REG = 0.1
ALS_TOL = 1e-4


def init_item_factors(n_items: int, rank: int = ALS_RANK) -> np.ndarray:
    """Y₀[i, f] = 0.2 · (u64(md5(f"als|{i}|{f}")[:8]) / 2⁶⁴ − 0.5) —
    deterministic, partition-independent, replayable anywhere."""
    y = np.empty((n_items, rank))
    for i in range(n_items):
        for f in range(rank):
            h = hashlib.md5(f"als|{i}|{f}".encode()).digest()
            y[i, f] = 0.2 * (int.from_bytes(h[:8], "big") / 2.0**64 - 0.5)
    return y


@dataclass
class AlsPartial:
    """Per-item normal-equation blocks from one partition's users."""

    a: np.ndarray  # (n_items, k, k)  Σ x_u x_uᵀ over ratings of i
    b: np.ndarray  # (n_items, k)     Σ r_ui x_u
    c: np.ndarray  # (n_items,)       rating counts per item
    sse: float  # Σ (r − x_u·y_i)² with the just-solved X, broadcast Y
    n: int  # rating rows seen
    halt: bool = False

    def combine(self, other: "AlsPartial") -> "AlsPartial":
        return AlsPartial(
            a=self.a + other.a,
            b=self.b + other.b,
            c=self.c + other.c,
            sse=self.sse + other.sse,
            n=self.n + other.n,
            halt=self.halt and other.halt,
        )


@dataclass
class AlsModel:
    item_factors: np.ndarray  # (n_items, k)
    movement: float = float("inf")
    rmse: float = float("nan")
    halt: bool = False
    iteration: int = 0


def solve_users(
    users: np.ndarray,
    items: np.ndarray,
    ratings: np.ndarray,
    y: np.ndarray,
    reg: float = ALS_REG,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact ridge solve of every distinct user's factors against Y.
    Returns (x_rows, user_order): x_rows[j] is the factor vector of the
    j-th rating ROW's user (already gathered back to row order), and
    user_order the sorted distinct user ids — shared by the serial
    replay so the two paths cannot drift."""
    k = y.shape[1]
    order = np.argsort(users, kind="stable")
    su, si, sr = users[order], items[order], ratings[order]
    uniq, starts = np.unique(su, return_index=True)
    bounds = np.append(starts, len(su))
    x_user = np.empty((len(uniq), k))
    eye = np.eye(k)
    for j in range(len(uniq)):
        lo, hi = bounds[j], bounds[j + 1]
        yi = y[si[lo:hi]]
        a = yi.T @ yi + reg * (hi - lo) * eye
        x_user[j] = np.linalg.solve(a, yi.T @ sr[lo:hi])
    # scatter back to original row order
    row_user = np.searchsorted(uniq, users)
    return x_user[row_user], uniq


class AlsWorker(WorkerComputable):
    """Solve local users against the broadcast Y; emit item blocks."""

    def __init__(
        self,
        n_items: int,
        user_col: str = "user",
        item_col: str = "item",
        rating_col: str = "rating",
        rank: int = ALS_RANK,
        reg: float = ALS_REG,
    ) -> None:
        self.n_items = n_items
        self.cols = (user_col, item_col, rating_col)
        self.rank = rank
        self.reg = reg

    def prepare(self, batches: Iterator[pa.RecordBatch]) -> tuple:
        """Load-once fast path: the partition's ratings as 3 arrays."""
        us, its, rs = [], [], []
        for batch in batches:
            if not batch.num_rows:
                continue
            us.append(batch.column(self.cols[0]).to_numpy(zero_copy_only=False))
            its.append(batch.column(self.cols[1]).to_numpy(zero_copy_only=False))
            rs.append(batch.column(self.cols[2]).to_numpy(zero_copy_only=False))
        if not us:
            z = np.zeros(0)
            return z.astype(np.int64), z.astype(np.int64), z
        return (
            np.concatenate(us).astype(np.int64),
            np.concatenate(its).astype(np.int64),
            np.concatenate(rs).astype(np.float64),
        )

    def compute(
        self, context: WorkerContext, batches: Iterator[pa.RecordBatch]
    ) -> AlsPartial:
        return self.compute_prepared(context, self.prepare(batches))

    def compute_prepared(self, context: WorkerContext, data: tuple) -> AlsPartial:
        users, items, ratings = data
        k, m = self.rank, self.n_items
        model: AlsModel | None = context.last_master_result
        y = (
            init_item_factors(m, k)
            if model is None or model.item_factors is None
            else model.item_factors
        )
        if users.shape[0] == 0:
            return AlsPartial(
                np.zeros((m, k, k)), np.zeros((m, k)), np.zeros(m), 0.0, 0
            )
        x_rows, _ = solve_users(users, items, ratings, y, self.reg)
        a = np.zeros((m, k, k))
        b = np.zeros((m, k))
        c = np.zeros(m)
        np.add.at(a, items, x_rows[:, :, None] * x_rows[:, None, :])
        np.add.at(b, items, ratings[:, None] * x_rows)
        np.add.at(c, items, 1.0)
        err = ratings - np.einsum("ij,ij->i", x_rows, y[items])
        return AlsPartial(a, b, c, float(err @ err), int(users.shape[0]))


class AlsMaster(MasterComputable):
    """Sum the item blocks; solve the item side; halt on movement."""

    def __init__(
        self,
        n_items: int,
        rank: int = ALS_RANK,
        reg: float = ALS_REG,
        tolerance: float = ALS_TOL,
    ) -> None:
        self.n_items = n_items
        self.rank = rank
        self.reg = reg
        self.tolerance = tolerance

    def compute(self, context: MasterContext) -> AlsModel:
        total: AlsPartial | None = None
        for r in context.worker_results:
            if r is not None:
                total = r if total is None else total.combine(r)
        prev: AlsModel | None = context.master_result
        y_prev = (
            init_item_factors(self.n_items, self.rank)
            if prev is None or prev.item_factors is None
            else prev.item_factors
        )
        if total is None or total.n == 0:
            return AlsModel(
                item_factors=y_prev,
                halt=True,
                iteration=context.current_iteration,
            )
        y_new = solve_items(total, y_prev, self.reg)
        movement = float(np.max(np.abs(y_new - y_prev)))
        rmse = float(np.sqrt(total.sse / total.n))
        return AlsModel(
            item_factors=y_new,
            movement=movement,
            rmse=rmse,
            halt=movement < self.tolerance,
            iteration=context.current_iteration,
        )


def solve_items(
    total: AlsPartial, y_prev: np.ndarray, reg: float = ALS_REG
) -> np.ndarray:
    """(A_i + λ·c_i·I) y_i = b_i per rated item; unrated items keep
    their previous row. Shared by master and the serial replay."""
    k = y_prev.shape[1]
    y_new = y_prev.copy()
    eye = np.eye(k)
    rated = np.nonzero(total.c > 0)[0]
    if rated.size:
        # batched LAPACK solve over the stacked rated blocks — the
        # same gesv per matrix as the per-item loop (bit-identical
        # outputs, asserted when this landed), ~10× less Python
        # dispatch per superstep at catalog size
        a = total.a[rated] + reg * total.c[rated, None, None] * eye
        y_new[rated] = np.linalg.solve(a, total.b[rated][..., None])[
            ..., 0
        ]
    return y_new


def als_serial_replay(
    users: np.ndarray,
    items: np.ndarray,
    ratings: np.ndarray,
    n_items: int,
    iterations: int,
    rank: int = ALS_RANK,
    reg: float = ALS_REG,
    tolerance: float = ALS_TOL,
) -> AlsModel:
    """Single-process golden: the same md5 init, the same per-user and
    per-item solvers (shared code, not re-derived math), sequential —
    the replayable oracle for the engine run (FIXTURES.md pattern; the
    engine may differ by partial-sum float order only)."""
    y = init_item_factors(n_items, rank)
    model = AlsModel(item_factors=y)
    k = rank
    for it in range(1, iterations + 1):
        x_rows, _ = solve_users(users, items, ratings, y, reg)
        a = np.zeros((n_items, k, k))
        b = np.zeros((n_items, k))
        c = np.zeros(n_items)
        np.add.at(a, items, x_rows[:, :, None] * x_rows[:, None, :])
        np.add.at(b, items, ratings[:, None] * x_rows)
        np.add.at(c, items, 1.0)
        err = ratings - np.einsum("ij,ij->i", x_rows, y[items])
        total = AlsPartial(a, b, c, float(err @ err), len(users))
        y_new = solve_items(total, y, reg)
        movement = float(np.max(np.abs(y_new - y)))
        model = AlsModel(
            item_factors=y_new,
            movement=movement,
            rmse=float(np.sqrt(total.sse / total.n)),
            halt=movement < tolerance,
            iteration=it,
        )
        y = y_new
        if model.halt:
            break
    return model
