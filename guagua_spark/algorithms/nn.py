"""Distributed neural-network training (MLP, sigmoid) — the reference's
flagship workload re-expressed: per-partition vectorized backprop in
numpy, gradient AllReduce through the engine, weight update on the driver.

Reference parity map (guagua-examples):
- worker per-record backprop + train/test error accumulation →
  ``NNWorker`` (nn/NNWorker.java, per-record gradient nn/Gradient.java:
  165-230 — here one matrix pass per block of ``_BLOCK_ROWS`` rows
  instead of per-record, so a worker holds at most ``_BLOCK_ROWS ×
  max(hidden)`` floats per activation, whatever its partition's size);
- master gradient accumulate + weight update → ``NNMaster``
  (nn/NNMaster.java:65-120, accumulate :91, update :109);
- weight-update strategies → ``OPTIMIZERS`` (nn/Weight.java:66-89,
  algorithm dispatch :74-86): backprop(momentum), manhattan, resilient
  (RPROP), quickprop, and scg — Møller's scaled conjugate gradient run
  as a probe/candidate state machine over engine iterations (each
  AllReduce delivers one (E, E') evaluation; one SCG step consumes two).
- train/validation split by crossValidationRate (NNWorker.java:96-98) →
  deterministic per-row hash split, made once per partition in
  ``NNWorker.prepare``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa

from guagua_spark.api import (
    MasterComputable,
    MasterContext,
    WorkerComputable,
    WorkerContext,
)
from guagua_spark.algorithms.gradient import _features_matrix, sigmoid


# -- network ----------------------------------------------------------------

#: rows per forward/backward block. 256–1024 rows keep a [20,64,32,1]
#: block's activations in cache and time alike; 4096 was slower.
_BLOCK_ROWS = 1024


def init_weights(
    layers: Sequence[int], seed: int = 42
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per-layer (W, b), Xavier-uniform, deterministic."""
    rng = np.random.default_rng(seed)
    out = []
    for fan_in, fan_out in zip(layers[:-1], layers[1:]):
        bound = np.sqrt(6.0 / (fan_in + fan_out))
        out.append(
            (
                rng.uniform(-bound, bound, size=(fan_in, fan_out)),
                np.zeros(fan_out),
            )
        )
    return out


def forward(
    weights: list[tuple[np.ndarray, np.ndarray]], x: np.ndarray
) -> list[np.ndarray]:
    """Activations per layer (sigmoid throughout, matching Encog default)."""
    acts = [x]
    for w, b in weights:
        acts.append(sigmoid(acts[-1] @ w + b))
    return acts


def backprop(
    weights: list[tuple[np.ndarray, np.ndarray]],
    x: np.ndarray,
    y: np.ndarray,
) -> tuple[list[tuple[np.ndarray, np.ndarray]], float]:
    """Batch gradient of squared error; returns (grads, sum sq error).

    Runs forward, error and backward over ``_BLOCK_ROWS`` rows at a time
    and sums grads and error across blocks, so the activations held at
    once are ``_BLOCK_ROWS × max(hidden)`` whatever the row count. Only
    the summation order differs from one pass over all rows."""
    grads = [(np.zeros_like(w), np.zeros_like(b)) for w, b in weights]
    sse = 0.0
    for lo in range(0, x.shape[0], _BLOCK_ROWS):
        hi = lo + _BLOCK_ROWS
        acts = forward(weights, x[lo:hi])
        out = acts[-1]
        err = out - y[lo:hi]
        sse += float(np.sum(err * err))
        delta = err * out * (1 - out)  # sigmoid'
        for li in range(len(weights) - 1, -1, -1):
            gw, gb = grads[li]
            gw += acts[li].T @ delta
            gb += delta.sum(axis=0)
            if li > 0:
                a = acts[li]
                delta = (delta @ weights[li][0].T) * a * (1 - a)
    return grads, sse


def squared_error(
    weights: list[tuple[np.ndarray, np.ndarray]],
    x: np.ndarray,
    y: np.ndarray,
) -> float:
    """Sum of squared output error, over the same row blocks as
    ``backprop``."""
    sse = 0.0
    for lo in range(0, x.shape[0], _BLOCK_ROWS):
        hi = lo + _BLOCK_ROWS
        err = forward(weights, x[lo:hi])[-1] - y[lo:hi]
        sse += float(np.sum(err * err))
    return sse


# -- engine plumbing --------------------------------------------------------


@dataclass
class NNGradient:
    """Summed gradients + errors from one partition (Combinable)."""

    grads: list[tuple[np.ndarray, np.ndarray]]
    train_sse: float = 0.0
    train_count: int = 0
    test_sse: float = 0.0
    test_count: int = 0
    halt: bool = False

    def combine(self, other: "NNGradient") -> "NNGradient":
        if not self.grads:
            merged = other.grads
        elif not other.grads:
            merged = self.grads
        else:
            merged = [
                (gw + ow, gb + ob)
                for (gw, gb), (ow, ob) in zip(self.grads, other.grads)
            ]
        return NNGradient(
            grads=merged,
            train_sse=self.train_sse + other.train_sse,
            train_count=self.train_count + other.train_count,
            test_sse=self.test_sse + other.test_sse,
            test_count=self.test_count + other.test_count,
            halt=self.halt and other.halt,
        )


@dataclass
class NNModel:
    weights: list[tuple[np.ndarray, np.ndarray]]
    train_error: float = float("inf")
    test_error: float = float("inf")
    halt: bool = False
    iteration: int = 0
    #: optimizer scratch (momentum / rprop step sizes / prev grads)
    opt_state: dict = field(default_factory=dict)


class NNWorker(WorkerComputable):
    """Vectorized backprop over this partition's train split; squared
    error on the held-out split (crossValidationRate, NNWorker.java:96-98)."""

    def __init__(
        self,
        feature_cols: Sequence[str],
        label_col: str,
        validation_rate: float = 0.0,
    ) -> None:
        self.feature_cols = tuple(feature_cols)
        self.label_col = label_col
        self.validation_rate = validation_rate

    def prepare(
        self, batches: Iterator[pa.RecordBatch]
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Load-once fast path: (X_train, y_train, X_test, y_test),
        converted once per partition with one copy (gradient.py
        _features_matrix) and split once."""
        x, y = _features_matrix(
            batches, self.feature_cols, self.label_col, bias=False
        )
        y = y.reshape(-1, 1)
        if self.validation_rate <= 0:
            return x, y, x[:0], y[:0]
        # deterministic split: row-index hash, stable across iterations
        # for a cached (thus stable) partition
        idx = np.arange(x.shape[0])
        is_test = (idx * 2654435761 % 1000) < self.validation_rate * 1000
        return x[~is_test], y[~is_test], x[is_test], y[is_test]

    def compute(
        self, context: WorkerContext, batches: Iterator[pa.RecordBatch]
    ) -> NNGradient:
        return self.compute_prepared(context, self.prepare(batches))

    def compute_prepared(
        self,
        context: WorkerContext,
        data: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
    ) -> NNGradient:
        model: NNModel = context.last_master_result
        xtr, ytr, xte, yte = data
        if xtr.shape[0] + xte.shape[0] == 0:
            return NNGradient(grads=[])
        grads, train_sse = backprop(model.weights, xtr, ytr)
        return NNGradient(
            grads=grads,
            train_sse=train_sse,
            train_count=int(xtr.shape[0]),
            test_sse=squared_error(model.weights, xte, yte),
            test_count=int(xte.shape[0]),
        )


# -- weight-update strategies (nn/Weight.java:74-86 dispatch) ---------------


def _flat(grads: list[tuple[np.ndarray, np.ndarray]]) -> list[np.ndarray]:
    return [g for pair in grads for g in pair]


def update_backprop(model: NNModel, grads, lr: float, momentum: float = 0.5):
    """Gradient descent with momentum (classic backprop update)."""
    vel = model.opt_state.get("velocity")
    if vel is None:
        vel = [np.zeros_like(g) for g in _flat(grads)]
    new_w, new_vel, i = [], [], 0
    for (w, b), (gw, gb) in zip(model.weights, grads):
        vw = momentum * vel[i] - lr * gw
        vb = momentum * vel[i + 1] - lr * gb
        new_w.append((w + vw, b + vb))
        new_vel += [vw, vb]
        i += 2
    model.opt_state["velocity"] = new_vel
    return new_w


def update_manhattan(model: NNModel, grads, lr: float):
    """Fixed-size step in the direction of -sign(gradient)."""
    return [
        (w - lr * np.sign(gw), b - lr * np.sign(gb))
        for (w, b), (gw, gb) in zip(model.weights, grads)
    ]


def update_resilient(
    model: NNModel,
    grads,
    lr: float,  # unused; RPROP is step-size-adaptive
    eta_plus: float = 1.2,
    eta_minus: float = 0.5,
    step_init: float = 0.1,
    step_max: float = 50.0,
    step_min: float = 1e-6,
):
    """RPROP: per-weight adaptive step from gradient sign agreement."""
    flat_g = _flat(grads)
    steps = model.opt_state.get("rprop_steps")
    prev_g = model.opt_state.get("rprop_prev")
    if steps is None:
        steps = [np.full_like(g, step_init) for g in flat_g]
        prev_g = [np.zeros_like(g) for g in flat_g]
    new_w, i = [], 0
    for w_idx, ((w, b), (gw, gb)) in enumerate(zip(model.weights, grads)):
        outs = []
        for g, arr in ((gw, w), (gb, b)):
            sign = np.sign(g * prev_g[i])
            steps[i] = np.clip(
                np.where(
                    sign > 0,
                    steps[i] * eta_plus,
                    np.where(sign < 0, steps[i] * eta_minus, steps[i]),
                ),
                step_min,
                step_max,
            )
            g_eff = np.where(sign < 0, 0.0, g)  # skip update on sign flip
            outs.append(arr - steps[i] * np.sign(g_eff))
            prev_g[i] = g_eff
            i += 1
        new_w.append((outs[0], outs[1]))
    model.opt_state["rprop_steps"] = steps
    model.opt_state["rprop_prev"] = prev_g
    return new_w


def update_quickprop(model: NNModel, grads, lr: float, mu: float = 1.75):
    """Quickprop: parabola-fit step from consecutive gradients."""
    flat_g = _flat(grads)
    prev_g = model.opt_state.get("qp_prev_g")
    prev_d = model.opt_state.get("qp_prev_d")
    if prev_g is None:
        # first step: plain gradient descent, remember state
        deltas = [-lr * g for g in flat_g]
    else:
        deltas = []
        for g, pg, pd in zip(flat_g, prev_g, prev_d):
            denom = pg - g
            with np.errstate(divide="ignore", invalid="ignore"):
                step = np.where(
                    np.abs(denom) > 1e-12, pd * g / denom, -lr * g
                )
            # clamp growth to mu× previous step
            limit = mu * np.abs(pd)
            step = np.clip(step, -np.maximum(limit, lr), np.maximum(limit, lr))
            deltas.append(step)
    new_w, i = [], 0
    for (w, b), _ in zip(model.weights, grads):
        new_w.append((w + deltas[i], b + deltas[i + 1]))
        i += 2
    model.opt_state["qp_prev_g"] = flat_g
    model.opt_state["qp_prev_d"] = deltas
    return new_w


def _flatten_w(
    pairs: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, list]:
    shapes = [(w.shape, b.shape) for w, b in pairs]
    vec = np.concatenate(
        [np.concatenate([w.ravel(), b.ravel()]) for w, b in pairs]
    )
    return vec, shapes


def _unflatten_w(vec: np.ndarray, shapes: list):
    out, i = [], 0
    for ws, bs in shapes:
        nw, nb = int(np.prod(ws)), int(np.prod(bs))
        out.append(
            (vec[i : i + nw].reshape(ws), vec[i + nw : i + nw + nb].reshape(bs))
        )
        i += nw + nb
    return out


def update_scg(model: NNModel, grads, lr: float, cur_error: float = 0.0):
    """Scaled conjugate gradient (Møller 1993), reference Weight.java's
    fifth strategy, expressed as a state machine over engine iterations:
    SCG needs TWO evaluations of (E, E') per step — a curvature probe at
    w+σp and a candidate at w+αp — and each engine iteration delivers
    exactly one evaluation at the broadcast weights. So the 'weights' we
    return each call are the NEXT EVALUATION POINT, and the accepted
    point lives in opt_state['scg']['w'] (see scg_best_weights).
    ``lr`` is unused — SCG sizes its own steps.
    """
    st = model.opt_state
    g_vec, shapes = _flatten_w(grads)
    if "scg" not in st:
        w0, _ = _flatten_w(model.weights)
        p = -g_vec
        scg = {
            "w": w0, "E": cur_error, "g": g_vec, "p": p,
            "lam": 1e-6, "lam_bar": 0.0, "sigma0": 1e-4,
            "k": 1, "shapes": shapes, "phase": "probe",
        }
        st["scg"] = scg
        scg["sigma"] = scg["sigma0"] / max(float(np.linalg.norm(p)), 1e-12)
        return _unflatten_w(w0 + scg["sigma"] * p, shapes)
    scg = st["scg"]
    w, g0, p = scg["w"], scg["g"], scg["p"]
    pn2 = float(p @ p)
    if scg["phase"] == "probe":
        # g_vec = E'(w + σp): second-order information along p
        s = (g_vec - g0) / scg["sigma"]
        delta = float(p @ s) + (scg["lam"] - scg["lam_bar"]) * pn2
        if delta <= 0:  # make the Hessian approximation positive-definite
            scg["lam_bar"] = 2.0 * (scg["lam"] - delta / pn2)
            delta = -delta + scg["lam"] * pn2
            scg["lam"] = scg["lam_bar"]
        mu = float(p @ (-g0))
        scg.update(delta=delta, mu=mu, alpha=mu / delta, phase="candidate")
        return _unflatten_w(w + scg["alpha"] * p, shapes)
    # candidate phase: cur_error/g_vec are E, E' at w + αp
    delta, mu, alpha = scg["delta"], scg["mu"], scg["alpha"]
    comp = 2.0 * delta * (scg["E"] - cur_error) / (mu * mu)
    if comp >= 0:  # success: accept the candidate
        r_new, r_old = -g_vec, -g0
        beta = float(r_new @ r_new - r_new @ r_old) / mu
        scg["w"] = w + alpha * p
        scg["E"], scg["g"] = cur_error, g_vec
        scg["k"] += 1
        scg["p"] = (
            r_new if scg["k"] % w.size == 0 else r_new + beta * p  # restart
        )
        scg["lam_bar"] = 0.0
        if comp >= 0.75:
            scg["lam"] *= 0.25
    else:
        scg["lam_bar"] = scg["lam"]
    if comp < 0.25:
        scg["lam"] = min(scg["lam"] + delta * (1.0 - comp) / pn2, 1e10)
    scg["sigma"] = scg["sigma0"] / max(
        float(np.linalg.norm(scg["p"])), 1e-12
    )
    scg["phase"] = "probe"
    return _unflatten_w(scg["w"] + scg["sigma"] * scg["p"], scg["shapes"])


def scg_best_weights(model: NNModel):
    """The accepted (best) SCG point — model.weights is the next
    evaluation point, not the optimum."""
    scg = model.opt_state.get("scg")
    if scg is None:
        return model.weights
    return _unflatten_w(scg["w"], scg["shapes"])


OPTIMIZERS: dict[str, Callable] = {
    "backprop": update_backprop,
    "manhattan": update_manhattan,
    "resilient": update_resilient,
    "quickprop": update_quickprop,
    "scg": update_scg,
}


class NNMaster(MasterComputable):
    """Sum worker gradients → optimizer step → broadcast new weights."""

    def __init__(
        self,
        layers: Sequence[int],
        learning_rate: float = 0.1,
        algorithm: str = "resilient",
        seed: int = 42,
        tolerance: float = 0.0,
    ) -> None:
        if algorithm not in OPTIMIZERS:
            raise ValueError(
                f"unknown algorithm {algorithm!r}; one of {sorted(OPTIMIZERS)}"
            )
        self.layers = list(layers)
        self.learning_rate = learning_rate
        self.algorithm = algorithm
        self.seed = seed
        self.tolerance = tolerance

    def initial_result(self, context: MasterContext) -> NNModel:
        return NNModel(weights=init_weights(self.layers, self.seed))

    def compute(self, context: MasterContext) -> NNModel:
        prev: NNModel = context.master_result or self.initial_result(context)
        total: NNGradient | None = None
        for r in context.worker_results:
            if r is not None and r.grads:
                total = r if total is None else total.combine(r)
        if total is None or total.train_count == 0:
            prev.halt = True
            return prev
        mean_grads = [
            (gw / total.train_count, gb / total.train_count)
            for gw, gb in total.grads
        ]
        train_error = total.train_sse / total.train_count
        if self.algorithm == "scg":
            new_weights = update_scg(
                prev, mean_grads, self.learning_rate, cur_error=train_error
            )
            # report the accepted point's error, not the probe point's
            train_error = prev.opt_state["scg"]["E"]
        else:
            new_weights = OPTIMIZERS[self.algorithm](
                prev, mean_grads, self.learning_rate
            )
        test_error = (
            total.test_sse / total.test_count if total.test_count else 0.0
        )
        halt = (
            self.tolerance > 0
            and prev.train_error != float("inf")
            and abs(prev.train_error - train_error) < self.tolerance
        )
        return NNModel(
            weights=new_weights,
            train_error=train_error,
            test_error=test_error,
            halt=halt,
            iteration=context.current_iteration,
            opt_state=prev.opt_state,
        )
