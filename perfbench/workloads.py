"""Seeded inputs, the program calls, and the golden replay per workload.

Each workload generates its inputs from the seed with numpy, trains with
the program's own (master, worker) pair for a fixed iteration budget with
tolerance 0, and is checked against this file's serial numpy replay of
the same iterations. The replay shares no code with the program.

Sizes keep each workload on the engine path it exists to measure (see
README.md); they are small enough that every run of the whole benchmark
fits its time budget on a 4-core host.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: relative tolerance of the golden comparison, as in the program's tests
RTOL = 1e-6
ATOL = 1e-9


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-z))


# -- lr_long ----------------------------------------------------------------

LR_ROWS = 300_000
LR_DIM = 20
LR_RATE = 1.0
#: neither the hidden weights nor the initial ones depend on the seed:
#: from different inits the loss crosses a fixed target at different
#: iterations, and time_to_target_s would measure the init instead of the
#: program. The seed drives the rows and labels.
_LR_RNG = np.random.default_rng(20_240_917)
_LR_TRUE_W = _LR_RNG.normal(0.0, 0.6, LR_DIM + 1)
_LR_W0 = _LR_RNG.normal(0.0, 0.1, LR_DIM + 1)


def lr_inputs(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((LR_ROWS, LR_DIM))
    z = _LR_TRUE_W[0] + x @ _LR_TRUE_W[1:]
    y = (rng.random(LR_ROWS) < _sigmoid(z)).astype(np.float64)
    return {"x": x, "y": y}


def feature_table(inputs: dict[str, np.ndarray]) -> pa.Table:
    cols = {f"f{i}": inputs["x"][:, i] for i in range(LR_DIM)}
    cols["label"] = inputs["y"]
    return pa.table(cols)


def lr_program():
    from guagua_spark.algorithms import GradientDescentMaster, LogisticGradientWorker

    master = GradientDescentMaster(
        LR_DIM, learning_rate=LR_RATE, tolerance=0.0, init_weights=_LR_W0
    )
    worker = LogisticGradientWorker([f"f{i}" for i in range(LR_DIM)], "label")
    return master, worker


def lr_replay(inputs: dict[str, np.ndarray], iterations: int):
    """Full-batch GD on mean squared error of the sigmoid output with the
    pseudo-gradient Xᵀ(σ(Xw) − y)/n. Quality of iteration i is the loss
    the master reports there: the loss at the weights it started from."""
    x1 = np.concatenate([np.ones((LR_ROWS, 1)), inputs["x"]], axis=1)
    y = inputs["y"]
    w = _LR_W0.copy()
    losses = []
    for _ in range(iterations):
        err = _sigmoid(x1 @ w) - y
        losses.append(float(np.mean(err * err)))
        w = w - LR_RATE * (x1.T @ err) / LR_ROWS
    return {"weights": w, "loss": losses[-1]}, losses


def lr_matches(result: Any, ref: dict) -> bool:
    return bool(
        np.allclose(result.weights, ref["weights"], rtol=RTOL, atol=ATOL)
        and np.isclose(result.loss, ref["loss"], rtol=RTOL, atol=ATOL)
    )


def lr_final_loss(result: Any) -> float:
    return float(result.loss)


# -- nn_backprop -------------------------------------------------------------

NN_ROWS = 100_000
NN_DIM = 20
NN_LAYERS = (NN_DIM, 64, 32, 1)
NN_RATE = 3.0
NN_MOMENTUM = 0.5  # the program's backprop default
#: a fixed init, for the reason given at _LR_W0
NN_INIT_SEED = 42
_NN_TEACHER = np.random.default_rng(20_240_919)
_NN_T1 = _NN_TEACHER.normal(0.0, 1.0 / np.sqrt(NN_DIM), (NN_DIM, 8))
_NN_T2 = _NN_TEACHER.normal(0.0, 1.0, 8)


def nn_inputs(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((NN_ROWS, NN_DIM))
    score = np.tanh(x @ _NN_T1) @ _NN_T2 + 0.3 * rng.standard_normal(NN_ROWS)
    return {"x": x, "y": (score > 0).astype(np.float64)}


def nn_program():
    from guagua_spark.algorithms import NNMaster, NNWorker

    master = NNMaster(
        list(NN_LAYERS), learning_rate=NN_RATE, algorithm="backprop",
        seed=NN_INIT_SEED, tolerance=0.0,
    )
    return master, NNWorker([f"f{i}" for i in range(NN_DIM)], "label")


def nn_replay(inputs: dict[str, np.ndarray], iterations: int):
    """Full-batch backprop of squared error through sigmoid layers, with
    momentum on the mean gradient; Xavier-uniform init drawn layer by
    layer. Gradients accumulate over row chunks that stay in cache.
    Quality of iteration i is the train error the master reports there:
    the error at the weights it started from."""
    rng = np.random.default_rng(NN_INIT_SEED)
    ws = []
    for fan_in, fan_out in zip(NN_LAYERS[:-1], NN_LAYERS[1:]):
        bound = np.sqrt(6.0 / (fan_in + fan_out))
        ws.append([rng.uniform(-bound, bound, (fan_in, fan_out)), np.zeros(fan_out)])
    vel = [[np.zeros_like(w), np.zeros_like(b)] for w, b in ws]
    x, y = inputs["x"], inputs["y"].reshape(-1, 1)
    n = len(x)
    errors = []
    for _ in range(iterations):
        grads = [[np.zeros_like(w), np.zeros_like(b)] for w, b in ws]
        sse = 0.0
        for lo in range(0, n, 8192):
            acts = [x[lo : lo + 8192]]
            for w, b in ws:
                acts.append(_sigmoid(acts[-1] @ w + b))
            err = acts[-1] - y[lo : lo + 8192]
            sse += float(np.sum(err * err))
            delta = err * acts[-1] * (1.0 - acts[-1])
            for li in range(len(ws) - 1, -1, -1):
                grads[li][0] += acts[li].T @ delta
                grads[li][1] += delta.sum(axis=0)
                if li > 0:
                    delta = (delta @ ws[li][0].T) * acts[li] * (1.0 - acts[li])
        errors.append(sse / n)
        for (w, b), (gw, gb), v in zip(ws, grads, vel):
            v[0] = NN_MOMENTUM * v[0] - NN_RATE * gw / n
            v[1] = NN_MOMENTUM * v[1] - NN_RATE * gb / n
        ws = [[w + v[0], b + v[1]] for (w, b), v in zip(ws, vel)]
    return {"weights": ws, "error": errors[-1]}, errors


def nn_matches(result: Any, ref: dict) -> bool:
    return bool(
        np.isclose(result.train_error, ref["error"], rtol=RTOL, atol=ATOL)
        and all(
            np.allclose(w, rw, rtol=RTOL, atol=ATOL) and np.allclose(b, rb, rtol=RTOL, atol=ATOL)
            for (w, b), (rw, rb) in zip(result.weights, ref["weights"])
        )
    )


def nn_final_loss(result: Any) -> float:
    return float(result.train_error)


# -- registry ----------------------------------------------------------------


@dataclass(frozen=True)
class Workload:
    name: str
    partitions: int
    iterations: int
    #: quality target of time_to_target_s (the loss or train error the
    #: master reports; lower is better), also stated in BENCHMARK.json
    target: float
    inputs: Callable[[int], dict]
    table: Callable[[dict], pa.Table]
    program: Callable[[], tuple]
    replay: Callable[[dict, int], tuple]
    matches: Callable[[Any, dict], bool]
    final_loss: Callable[[Any], float]


WORKLOADS = {
    w.name: w
    for w in (
        # <= 32 partitions and >= 8 iterations: host-local file cache,
        # direct collect, model inlined in the task closure
        Workload("lr_long", 4, 8, 0.147, lr_inputs, feature_table, lr_program,
                 lr_replay, lr_matches, lr_final_loss),
        # the same engine path, with about 15x lr_long's worker compute
        Workload("nn_backprop", 4, 8, 0.249, nn_inputs, feature_table, nn_program,
                 nn_replay, nn_matches, nn_final_loss),
    )
}


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` once as a directory of ``files`` equal parquet
    files, so the scan yields one partition per file. The directory is
    renamed into place, so a half-written one from a killed run is never
    mistaken for finished input."""
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, path)
