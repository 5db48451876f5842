"""Histogram-based gradient-boosted regression trees on the
IterativeEngine — the sixth engine workload (after Sum, LR/linear,
NN, k-means, ALS), chosen because it is the workload the reference's
OWN ecosystem runs on guagua: Shifu's distributed decision-tree
trainer drives exactly this BSP shape on the guagua API the
reference publishes (master/worker computables + Combinable
AllReduce, ``README.md:20-26`` lineage; the public histogram
algorithm is the XGBoost/LightGBM one).

BSP split (design anchors ``MasterComputable.java`` /
``WorkerComputable.java`` /
``AbstractMasterCoordinator.java:243-310``):

- superstep 1 is a STATS pass (the Shifu binning pass): workers emit
  per-feature min/max plus the target sum — Combinable by
  elementwise min/max/add — and the master builds equal-width bin
  edges and the base score (target mean);
- each later superstep grows ONE LEVEL of the current tree: workers
  recompute the ensemble prediction from the broadcast completed
  trees (stateless-task trade, same as ALS user factors and BPE
  merges), route every row through the broadcast partial tree to its
  frontier node, and emit a dense gradient histogram
  ``hist[frontier, feature, bin] = (Σ gradient, count)`` —
  Combinable by plain addition, the master sums the partials;
- the master scans each frontier node's histogram with the exact
  cumulative-sum split search (gain =
  G_L²/(H_L+λ) + G_R²/(H_R+λ) − G²/(H+λ), deterministic first-wins
  tie-break on (feature, bin)), splits or finalizes leaves
  (w = −G/(H+λ)), and halts after ``n_trees`` trees.

Determinism: all ROUTING is integer (bin indices, split bins), so
the only float divergence between the engine and a serial replay is
summation order inside the histograms (~1e-12 relative; goldens
compare at 1e-8 — per-partition partials summed in partition order
against the replay's row order). The frontier
never exceeds 2^depth nodes, so the per-superstep partial is
O(2^depth · features · bins) — KBs whatever the corpus.

100 TB shape: the corpus-sized relation is touched once per
superstep through the load-once worker cache; per-superstep traffic
is the histogram partial and the broadcast model (trees are
O(n_trees · 2^depth) node tuples). Nothing corpus-sized ever moves.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pyarrow as pa

from guagua_spark.api import (
    MasterComputable,
    MasterContext,
    WorkerComputable,
    WorkerContext,
)

GBT_BINS = 32
GBT_DEPTH = 3
GBT_TREES = 3
GBT_LR = 0.3
GBT_LAMBDA = 1.0
GBT_MIN_GAIN = 1e-6

#: node tuple layout: [kind, feature, thr_bin, left, right, weight]
#: kind: "open" (frontier, undecided), "split", "leaf"
K_KIND, K_FEAT, K_THR, K_LEFT, K_RIGHT, K_W = range(6)


def bin_matrix(
    x: np.ndarray, mins: np.ndarray, widths: np.ndarray, bins: int = GBT_BINS
) -> np.ndarray:
    """Integer bin index per cell — the shared, exactly-reproducible
    quantization both the workers and the serial replay route on."""
    b = np.floor((x - mins[None, :]) / widths[None, :]).astype(np.int64)
    return np.clip(b, 0, bins - 1)


def route(nodes: list, binned: np.ndarray) -> np.ndarray:
    """Node id per row under the (partial) tree — integer decisions
    only: left iff bin[feature] <= thr_bin."""
    pos = np.zeros(binned.shape[0], dtype=np.int64)
    while True:
        moved = False
        for nid, node in enumerate(nodes):
            if node[K_KIND] != "split":
                continue
            at = pos == nid
            if not at.any():
                continue
            left = binned[:, node[K_FEAT]] <= node[K_THR]
            pos = np.where(at & left, node[K_LEFT], pos)
            pos = np.where(at & ~left, node[K_RIGHT], pos)
            moved = True
        if not moved:
            return pos


def predict(
    trees: list, binned: np.ndarray, base: float, lr: float = GBT_LR
) -> np.ndarray:
    """Ensemble prediction over COMPLETED trees (the gradient's
    reference point for the whole next tree, per standard boosting)."""
    out = np.full(binned.shape[0], base, dtype=np.float64)
    for nodes in trees:
        leaf = route(nodes, binned)
        w = np.array([n[K_W] for n in nodes], dtype=np.float64)
        out += lr * w[leaf]
    return out


def best_split(
    node_hist: np.ndarray, lam: float = GBT_LAMBDA
) -> tuple | None:
    """Exact cumulative-sum split search over one node's
    (features, bins, 2) histogram. Returns
    (gain, feature, thr_bin, g_l, h_l, g_r, h_r) for the best
    gain-positive split, first-wins on (feature, bin) ties; None when
    no candidate leaves both children non-empty.

    The comparison KEY is the gain demoted to float32: histogram sums
    differ between the engine (per-partition partials) and the serial
    replay (row order) by ~1e-12 relative, so two mathematically-equal
    candidates (common on lattice-like features) would tie-break by
    noise under full precision. A float32 key (~6e-8 ulp) collapses
    noise-level differences to EXACT ties, which the deterministic
    (feature, bin) first-wins rule then resolves identically on both
    paths — the same determinism device as the driver's 6dp rounding.
    Child sums keep full precision (leaf weights compare at 1e-8)."""
    best = None
    for f in range(node_hist.shape[0]):
        g_tot = float(node_hist[f, :, 0].sum())
        h_tot = float(node_hist[f, :, 1].sum())
        parent = g_tot * g_tot / (h_tot + lam)
        gl = np.cumsum(node_hist[f, :, 0])
        hl = np.cumsum(node_hist[f, :, 1])
        for t in range(node_hist.shape[1] - 1):
            h_left, h_right = float(hl[t]), h_tot - float(hl[t])
            if h_left <= 0 or h_right <= 0:
                continue
            g_left = float(gl[t])
            g_right = g_tot - g_left
            gain = float(
                np.float32(
                    g_left * g_left / (h_left + lam)
                    + g_right * g_right / (h_right + lam)
                    - parent
                )
            )
            if best is None or gain > best[0]:
                best = (gain, f, t, g_left, h_left, g_right, h_right)
    return best


def grow_level(
    cur: list,
    frontier: list,
    hist: np.ndarray,
    level: int,
    max_depth: int = GBT_DEPTH,
    lam: float = GBT_LAMBDA,
    min_gain: float = GBT_MIN_GAIN,
) -> list:
    """Master-side level growth, shared verbatim with the serial
    replay: split or finalize every frontier node from its histogram
    slot; returns the next frontier (possibly empty)."""
    nxt: list = []
    for j, nid in enumerate(frontier):
        node = cur[nid]
        g = float(hist[j, 0, :, 0].sum())
        h = float(hist[j, 0, :, 1].sum())
        found = best_split(hist[j], lam) if level < max_depth else None
        if found is None or found[0] <= min_gain:
            node[K_KIND] = "leaf"
            node[K_W] = -g / (h + lam)
            continue
        _, f, t, g_l, h_l, g_r, h_r = found
        node[K_KIND] = "split"
        node[K_FEAT], node[K_THR] = f, t
        node[K_LEFT], node[K_RIGHT] = len(cur), len(cur) + 1
        for g_c, h_c in ((g_l, h_l), (g_r, h_r)):
            cur.append(["open", -1, -1, -1, -1, -g_c / (h_c + lam)])
        if level + 1 >= max_depth:
            # children's sums are known from the split search — they
            # become leaves without another corpus pass
            cur[node[K_LEFT]][K_KIND] = "leaf"
            cur[node[K_RIGHT]][K_KIND] = "leaf"
        else:
            nxt.extend((node[K_LEFT], node[K_RIGHT]))
    return nxt


@dataclass
class GbtStatsPartial:
    """Superstep-1 binning stats — Combinable by min/max/add."""

    mins: np.ndarray
    maxs: np.ndarray
    sum_y: float
    n: int
    halt: bool = False

    def combine(self, other: "GbtStatsPartial") -> "GbtStatsPartial":
        return GbtStatsPartial(
            mins=np.minimum(self.mins, other.mins),
            maxs=np.maximum(self.maxs, other.maxs),
            sum_y=self.sum_y + other.sum_y,
            n=self.n + other.n,
            halt=self.halt and other.halt,
        )


@dataclass
class GbtHistPartial:
    """One level's gradient histogram — Combinable by addition."""

    hist: np.ndarray  # (n_frontier, n_features, bins, 2) = (Σg, count)
    sse: float  # Σ (pred − y)² under the completed ensemble
    n: int
    halt: bool = False

    def combine(self, other: "GbtHistPartial") -> "GbtHistPartial":
        return GbtHistPartial(
            hist=self.hist + other.hist,
            sse=self.sse + other.sse,
            n=self.n + other.n,
            halt=self.halt and other.halt,
        )


@dataclass
class GbtModel:
    """Broadcast master state: bin edges + completed trees + the
    in-progress tree's frontier."""

    phase: str = "stats"  # "stats" → "grow" → "final" → "done"
    mins: np.ndarray | None = None
    widths: np.ndarray | None = None
    base_score: float = 0.0
    trees: list = field(default_factory=list)
    cur: list = field(default_factory=list)
    frontier: list = field(default_factory=list)
    level: int = 0
    tree_index: int = 0
    rmse: float = float("nan")
    n_rows: int = 0
    halt: bool = False
    iteration: int = 0


class GbtWorker(WorkerComputable):
    """Stats pass, then one gradient histogram per level."""

    def __init__(
        self,
        n_features: int,
        bins: int = GBT_BINS,
        lr: float = GBT_LR,
    ) -> None:
        self.n_features = n_features
        self.bins = bins
        self.lr = lr

    def prepare(self, batches: Iterator[pa.RecordBatch]) -> tuple:
        """Load-once fast path: (X (n, F), y (n,)) float64 arrays.
        Expects columns f0..f{F-1}, y."""
        xs, ys = [], []
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = [
                batch.column(f"f{j}").to_numpy(zero_copy_only=False)
                for j in range(self.n_features)
            ]
            xs.append(np.column_stack(cols).astype(np.float64))
            ys.append(
                batch.column("y").to_numpy(zero_copy_only=False).astype(
                    np.float64
                )
            )
        if not xs:
            return (
                np.zeros((0, self.n_features)),
                np.zeros(0),
            )
        return np.concatenate(xs), np.concatenate(ys)

    def compute(
        self, context: WorkerContext, batches: Iterator[pa.RecordBatch]
    ) -> GbtStatsPartial | GbtHistPartial:
        return self.compute_prepared(context, self.prepare(batches))

    def compute_prepared(
        self, context: WorkerContext, data: tuple
    ) -> GbtStatsPartial | GbtHistPartial:
        x, y = data
        model: GbtModel | None = context.last_master_result
        f = self.n_features
        if model is None or model.phase == "stats":
            if x.shape[0] == 0:
                return GbtStatsPartial(
                    np.full(f, np.inf), np.full(f, -np.inf), 0.0, 0
                )
            return GbtStatsPartial(
                x.min(axis=0), x.max(axis=0), float(y.sum()), int(len(y))
            )
        hist = np.zeros((len(model.frontier), f, self.bins, 2))
        if x.shape[0] == 0:
            return GbtHistPartial(hist, 0.0, 0)
        binned = bin_matrix(x, model.mins, model.widths, self.bins)
        preds = predict(model.trees, binned, model.base_score, self.lr)
        g = preds - y  # squared-loss gradient; hessian ≡ 1 (the count)
        if model.phase == "final":
            # one closing pass: the FULL ensemble's training error
            return GbtHistPartial(hist, float(g @ g), int(len(y)))
        pos = route(model.cur, binned)
        slot = {nid: j for j, nid in enumerate(model.frontier)}
        for nid, j in slot.items():
            at = pos == nid
            if not at.any():
                continue
            gb, bb = g[at], binned[at]
            for feat in range(f):
                np.add.at(hist[j, feat, :, 0], bb[:, feat], gb)
                np.add.at(hist[j, feat, :, 1], bb[:, feat], 1.0)
        return GbtHistPartial(hist, float(g @ g), int(len(y)))


class GbtMaster(MasterComputable):
    """Build edges from the stats pass; then split-or-finalize each
    frontier from the combined histograms, one level per superstep."""

    def __init__(
        self,
        n_features: int,
        bins: int = GBT_BINS,
        max_depth: int = GBT_DEPTH,
        n_trees: int = GBT_TREES,
        lam: float = GBT_LAMBDA,
        min_gain: float = GBT_MIN_GAIN,
    ) -> None:
        self.n_features = n_features
        self.bins = bins
        self.max_depth = max_depth
        self.n_trees = n_trees
        self.lam = lam
        self.min_gain = min_gain

    def compute(self, context: MasterContext) -> GbtModel:
        total = None
        for r in context.worker_results:
            if r is not None:
                total = r if total is None else total.combine(r)
        prev: GbtModel | None = context.master_result
        it = context.current_iteration
        if prev is not None and prev.phase == "final":
            done = GbtModel(
                phase="done",
                mins=prev.mins,
                widths=prev.widths,
                base_score=prev.base_score,
                trees=prev.trees,
                tree_index=prev.tree_index,
                n_rows=prev.n_rows,
                halt=True,
                iteration=it,
            )
            if total is not None and total.n:
                done.rmse = float(np.sqrt(total.sse / total.n))
            return done
        if prev is None or prev.phase == "stats":
            if total is None or total.n == 0:
                return GbtModel(phase="done", halt=True, iteration=it)
            widths = (total.maxs - total.mins) / self.bins
            widths = np.where(widths > 0, widths, 1.0)
            return GbtModel(
                phase="grow",
                mins=total.mins,
                widths=widths,
                base_score=total.sum_y / total.n,
                cur=[["open", -1, -1, -1, -1, 0.0]],
                frontier=[0],
                level=0,
                n_rows=total.n,
                iteration=it,
            )
        model = GbtModel(
            phase="grow",
            mins=prev.mins,
            widths=prev.widths,
            base_score=prev.base_score,
            trees=list(prev.trees),
            cur=[list(n) for n in prev.cur],
            level=prev.level,
            tree_index=prev.tree_index,
            n_rows=prev.n_rows,
            iteration=it,
        )
        model.rmse = float(np.sqrt(total.sse / total.n))
        nxt = grow_level(
            model.cur,
            prev.frontier,
            total.hist,
            prev.level,
            self.max_depth,
            self.lam,
            self.min_gain,
        )
        if nxt:
            model.frontier = nxt
            model.level = prev.level + 1
            return model
        model.trees.append(model.cur)
        model.tree_index += 1
        if model.tree_index >= self.n_trees:
            # not halting yet: one closing superstep measures the full
            # ensemble's rmse (phase "final"), then the master halts
            model.phase = "final"
            model.cur, model.frontier = [], []
            return model
        model.cur = [["open", -1, -1, -1, -1, 0.0]]
        model.frontier = [0]
        model.level = 0
        return model


def gbt_serial_replay(
    x: np.ndarray,
    y: np.ndarray,
    bins: int = GBT_BINS,
    max_depth: int = GBT_DEPTH,
    n_trees: int = GBT_TREES,
    lr: float = GBT_LR,
    lam: float = GBT_LAMBDA,
    min_gain: float = GBT_MIN_GAIN,
) -> GbtModel:
    """Single-process golden: the same binning, routing, histogram,
    and split code (shared functions, not re-derived math), run
    sequentially — the replayable oracle for the engine run
    (FIXTURES.md pattern; divergence bounded by float summation
    order)."""
    f = x.shape[1]
    mins, maxs = x.min(axis=0), x.max(axis=0)
    widths = (maxs - mins) / bins
    widths = np.where(widths > 0, widths, 1.0)
    base = float(y.sum()) / len(y)
    binned = bin_matrix(x, mins, widths, bins)
    model = GbtModel(
        phase="grow",
        mins=mins,
        widths=widths,
        base_score=base,
        n_rows=len(y),
        iteration=1,
    )
    for _ in range(n_trees):
        preds = predict(model.trees, binned, base, lr)
        g = preds - y
        model.rmse = float(np.sqrt((g @ g) / len(y)))
        cur: list = [["open", -1, -1, -1, -1, 0.0]]
        frontier, level = [0], 0
        while frontier:
            model.iteration += 1
            pos = route(cur, binned)
            hist = np.zeros((len(frontier), f, bins, 2))
            for j, nid in enumerate(frontier):
                at = pos == nid
                if not at.any():
                    continue
                gb, bb = g[at], binned[at]
                for feat in range(f):
                    np.add.at(hist[j, feat, :, 0], bb[:, feat], gb)
                    np.add.at(hist[j, feat, :, 1], bb[:, feat], 1.0)
            frontier = grow_level(
                cur, frontier, hist, level, max_depth, lam, min_gain
            )
            level += 1
        model.trees.append(cur)
        model.tree_index += 1
    # the closing "final" superstep: full-ensemble training error
    model.iteration += 1
    err = predict(model.trees, binned, base, lr) - y
    model.rmse = float(np.sqrt((err @ err) / len(y)))
    model.phase = "done"
    model.halt = True
    return model
