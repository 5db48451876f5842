"""k-means: engine-based (BSP AllReduce) and DataFrame-native formulations.

Reference semantics (guagua-examples):
- iteration 1 init: each worker samples every (size/k)-th record, the
  master sorts all candidates by L2 norm and picks k evenly
  (kmeans/KMeansWorker.java:116-146, KMeansMaster.java:61-98);
- each iteration: workers assign rows to the nearest centroid and emit
  per-cluster sums+counts (KMeansWorker.java:151-194, nearest at :196);
  the master sums across workers and divides → new centroids
  (KMeansMaster.java:108-150 — indexed by cluster id, order-insensitive);
- final tagged rows written per worker (KMeansDataOutput.java:36-80) →
  here a distributed ``assign()`` DataFrame write.

Two formulations are provided on purpose:
- ``KMeansWorker/KMeansMaster`` on the IterativeEngine — parity with the
  reference's worker/master split, numpy per partition;
- ``kmeans_dataframe_iteration`` — the Spark-idiomatic form (SURVEY.md
  §2.3: "groupBy(tag).agg" is the better engine): assignment with
  built-in array functions, one hash aggregate per iteration, no Python
  in the loop. At 100 TB this is the one to run — whole-stage codegen,
  map-side partial aggregation, and AQE all apply.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from guagua_spark.api import (
    MasterComputable,
    MasterContext,
    WorkerComputable,
    WorkerContext,
)


@dataclass
class KMeansPartial:
    """Per-cluster sums and counts from one partition (Combinable)."""

    sums: np.ndarray  # shape (k, dim)
    counts: np.ndarray  # shape (k,)
    #: iteration-1 init candidates (sampled rows), else None
    candidates: np.ndarray | None = None
    halt: bool = False

    def combine(self, other: "KMeansPartial") -> "KMeansPartial":
        cands = None
        if self.candidates is not None or other.candidates is not None:
            parts = [
                c for c in (self.candidates, other.candidates) if c is not None
            ]
            cands = np.concatenate(parts) if parts else None
        return KMeansPartial(
            sums=self.sums + other.sums,
            counts=self.counts + other.counts,
            candidates=cands,
            halt=self.halt and other.halt,
        )


@dataclass
class KMeansModel:
    centroids: np.ndarray  # shape (k, dim)
    movement: float = float("inf")
    halt: bool = False
    iteration: int = 0


def _batch_matrix(
    batches: Iterator[pa.RecordBatch], vector_col: str
) -> np.ndarray:
    mats = []
    for batch in batches:
        col = batch.column(vector_col)
        n = len(col)
        if not n:
            continue
        # flatten() honors list offsets/slices; reshape is valid because
        # embedding vectors are fixed-width per table. Direct Arrow→numpy
        # (no pandas hop) — same per-iteration rationale as gradient.py.
        flat = col.flatten().to_numpy(zero_copy_only=False)
        mats.append(
            flat.astype(np.float64, copy=False).reshape(n, len(flat) // n)
        )
    if not mats:
        return np.zeros((0, 0))
    return np.concatenate(mats)


#: rows per distance block: the rows × k distance matrix is built this
#: many rows at a time, so a worker holds _BLOCK_ROWS × k floats of it.
_BLOCK_ROWS = 1024


def _nearest_centroid(x: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid, one row block at a time.

    Squared L2 to each centroid is |x|² − 2x·c + |c|²; argmin ignores
    |x|²."""
    c2 = np.sum(centroids**2, axis=1)
    tags = [
        np.argmin(-2.0 * (x[lo : lo + _BLOCK_ROWS] @ centroids.T) + c2, axis=1)
        for lo in range(0, x.shape[0], _BLOCK_ROWS)
    ]
    return np.concatenate(tags) if tags else np.zeros(0, dtype=np.intp)


class KMeansWorker(WorkerComputable):
    """Assign rows to nearest centroid; emit per-cluster sums+counts.

    Iteration 1 (no centroids yet) emits init candidates instead —
    every (n/k)-th row, the reference's sampling scheme."""

    def __init__(self, k: int, vector_col: str = "embedding") -> None:
        self.k = k
        self.vector_col = vector_col

    def prepare(self, batches: Iterator[pa.RecordBatch]) -> np.ndarray:
        """Load-once fast path: the partition's vectors as one matrix."""
        return _batch_matrix(batches, self.vector_col)

    def compute(
        self, context: WorkerContext, batches: Iterator[pa.RecordBatch]
    ) -> KMeansPartial:
        return self.compute_prepared(context, self.prepare(batches))

    def compute_prepared(
        self, context: WorkerContext, x: np.ndarray
    ) -> KMeansPartial:
        model: KMeansModel | None = context.last_master_result
        if model is None or model.centroids is None:
            # init round: sample every (n/k)-th record (KMeansWorker.java:116-146)
            if x.shape[0] == 0:
                return KMeansPartial(
                    np.zeros((self.k, 1)), np.zeros(self.k), candidates=None
                )
            # every (n//k)-th record, UNCAPPED — the reference keeps all
            # stride hits (indices 0, m, 2m, …), which can exceed k
            stride = max(1, x.shape[0] // self.k)
            cands = x[::stride]
            return KMeansPartial(
                np.zeros((self.k, x.shape[1])),
                np.zeros(self.k),
                candidates=cands,
            )
        centroids = model.centroids
        k, dim = centroids.shape
        if x.shape[0] == 0:
            return KMeansPartial(np.zeros((k, dim)), np.zeros(k))
        tags = _nearest_centroid(x, centroids)
        sums = np.zeros((k, dim))
        np.add.at(sums, tags, x)
        counts = np.bincount(tags, minlength=k).astype(np.float64)
        return KMeansPartial(sums=sums, counts=counts)


class KMeansMaster(MasterComputable):
    """Init: sort candidates by L2 norm, pick k evenly (KMeansMaster.java:61-98).
    Iterate: new centroid = sum/count per cluster; halt when max centroid
    movement < tolerance."""

    def __init__(
        self,
        k: int,
        tolerance: float = 1e-6,
        init_centroids: np.ndarray | None = None,
    ) -> None:
        self.k = k
        self.tolerance = tolerance
        #: explicit initial centroids — bypasses the candidate-sampling
        #: init on iteration 1. Used by the driver-contract entry, whose
        #: init must be partition-layout-independent so a SQL oracle can
        #: replay it (see operators/iterative.py kmeans_train).
        self.init_centroids = init_centroids

    def compute(self, context: MasterContext) -> KMeansModel:
        prev: KMeansModel | None = context.master_result
        total: KMeansPartial | None = None
        for r in context.worker_results:
            if r is not None:
                total = r if total is None else total.combine(r)
        if total is None:
            return KMeansModel(
                centroids=None, halt=True, iteration=context.current_iteration
            )
        if prev is None or prev.centroids is None:
            if self.init_centroids is not None:
                return KMeansModel(
                    centroids=np.asarray(self.init_centroids, dtype=np.float64),
                    iteration=context.current_iteration,
                )
            cands = total.candidates
            if cands is None or cands.shape[0] < self.k:
                raise ValueError(
                    f"k-means init needs >= k={self.k} candidates, got "
                    f"{0 if cands is None else cands.shape[0]}"
                )
            centroids = select_centroids_by_norm(cands, self.k)
            return KMeansModel(
                centroids=centroids, iteration=context.current_iteration
            )
        centroids = prev.centroids.copy()
        mask = total.counts > 0
        centroids[mask] = total.sums[mask] / total.counts[mask, None]
        movement = float(
            np.max(np.linalg.norm(centroids - prev.centroids, axis=1))
        )
        return KMeansModel(
            centroids=centroids,
            movement=movement,
            halt=movement < self.tolerance,
            iteration=context.current_iteration,
        )


def select_centroids_by_norm(cands: np.ndarray, k: int) -> np.ndarray:
    """Master-side init selection (KMeansMaster.java:77-89): stable-sort
    all candidates by L2 norm ascending, pick k evenly spaced
    (index i·(total//k)). Shared by the engine master and the
    DataFrame-native init so there is exactly one implementation."""
    order = np.argsort(np.linalg.norm(cands, axis=1), kind="stable")
    cands = cands[order]
    step = max(1, cands.shape[0] // k)
    return cands[[i * step for i in range(k)]].copy()


def kmeans_reference_init(
    df: DataFrame, k: int, vector_col: str = "embedding"
) -> np.ndarray:
    """Reference-parity init in DataFrame ops (KMeansWorker.java:116-137 +
    KMeansMaster.java:60-96): each partition contributes every
    (n_p // k)-th record; the driver sorts ALL candidates by L2 norm
    (stable) and picks k evenly spaced.

    Scale shape: pass 1 is a per-partition count (map-side agg on
    spark_partition_id — no data movement beyond k·P tiny rows); pass 2
    streams each partition through mapInPandas keeping a running index —
    O(batch) memory, never buffers a partition (the reference buffers to
    MemoryDiskList; the two-pass form is the streaming equivalent). The
    collected candidate set is ≤ ~2k per partition — driver-bounded like
    the engine's AllReduce result, not O(n).
    """
    import pandas as pd
    from pyspark import TaskContext

    sizes = {
        r.pid: r.cnt
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }

    def sample(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        m = max(1, sizes.get(pid, 0) // k)
        seen = 0
        for pdf in pdfs:
            idx = np.arange(seen, seen + len(pdf))
            seen += len(pdf)
            out = pdf[idx % m == 0]
            if len(out):
                yield out[[vector_col]]

    cands_pdf = (
        df.select(vector_col)
        .mapInPandas(sample, df.select(vector_col).schema)
        .toPandas()
    )
    if len(cands_pdf) < k:
        raise ValueError(
            f"k-means init needs >= k={k} candidates, got {len(cands_pdf)}"
        )
    cands = np.stack(cands_pdf[vector_col].to_numpy()).astype(np.float64)
    return select_centroids_by_norm(cands, k)


# ---------------------------------------------------------------------------
# DataFrame-native formulation (the scale path)
# ---------------------------------------------------------------------------


def squared_distance_col(vector_col: str, centroid: list[float]) -> Column:
    """Σ (xᵢ−cᵢ)² as a codegen-friendly built-in expression (no UDF)."""
    c = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(F.col(vector_col), c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_to_centroids(
    df: DataFrame, centroids: np.ndarray, vector_col: str = "embedding"
) -> DataFrame:
    """Add a ``tag`` column = index of the nearest centroid.

    Centroids ride the plan as literals (they're driver-side model state,
    exactly like the reference's broadcast master result) — no join, no
    shuffle, fully codegen'd.
    """
    dists = F.array(
        *[squared_distance_col(vector_col, list(c)) for c in centroids]
    )
    tag = F.array_position(dists, F.array_min(dists)) - 1
    return df.withColumn("tag", tag.cast("int"))


def centroid_means(
    assigned: DataFrame, dim: int, vector_col: str = "embedding"
) -> DataFrame:
    """New centroids: one hash aggregate, dim avg columns, map-side partial."""
    aggs = [
        F.avg(F.element_at(F.col(vector_col), i + 1)).alias(f"c{i}")
        for i in range(dim)
    ]
    return assigned.groupBy("tag").agg(
        F.count(F.lit(1)).alias("cnt"), *aggs
    )


def kmeans_dataframe(
    df: DataFrame,
    k: int,
    dim: int,
    vector_col: str = "embedding",
    max_iterations: int = 20,
    tolerance: float = 1e-6,
    init_centroids: np.ndarray | None = None,
) -> tuple[np.ndarray, int]:
    """Full k-means loop in DataFrame ops; centroids live on the driver.

    Per iteration: one job = scan(cached) → assign (codegen) → hash agg.
    No Python on the hot path; the collected aggregate is k×(dim+1).
    """
    if init_centroids is None:
        # reference-parity init: per-partition stride sample → driver
        # norm-sort → k evenly spaced (deterministic for a fixed
        # partitioning, unlike limit(k) on an unordered DataFrame)
        init_centroids = kmeans_reference_init(df, k, vector_col)
    centroids = np.asarray(init_centroids, dtype=np.float64)
    iterations = 0
    for _ in range(max_iterations):
        iterations += 1
        rows = centroid_means(
            assign_to_centroids(df, centroids, vector_col), dim, vector_col
        ).collect()
        new_centroids = centroids.copy()
        for row in rows:
            if row["cnt"] > 0:
                new_centroids[row["tag"]] = [
                    row[f"c{i}"] for i in range(dim)
                ]
        movement = float(
            np.max(np.linalg.norm(new_centroids - centroids, axis=1))
        )
        centroids = new_centroids
        if movement < tolerance:
            break
    return centroids, iterations
