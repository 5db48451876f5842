"""User-facing computation API: the guagua extension surface, in Python.

Reproduces the reference's extension points (SURVEY.md §2.8):

- ``WorkerComputable.compute``  ← worker/WorkerComputable.java:60-72
- ``MasterComputable.compute``  ← master/MasterComputable.java:51-61
- ``Combinable.combine``        ← io/Combinable.java:24-29
- ``HaltableResult.halt``       ← io/HaltBytable.java:36-77
- ``MasterContext``/``WorkerContext`` ← master/MasterContext.java,
  worker/WorkerContext.java (props, attachment, current/total iteration,
  worker_results / last_master_result)

Differences from the reference, by design (Spark-first):

- No ``Bytable``/serializer layer: results are arbitrary picklable Python
  objects. Each task gets the pickled master result from the driver as
  one frame on the run's socket and sends its pickled result back as
  another (reference io/BytableSerializer.java and the GZIP/Bzip2
  variants disappear).
- Workers receive their partition as an iterator of **pyarrow RecordBatches**
  (columnar, zero-copy from the JVM) instead of a line-record reader
  (reference hadoop/io/GuaguaLineRecordReader.java). Convert with
  ``batch.to_pandas()`` for numpy work.
- On the Arrow and blob paths every iteration is a new Spark task, so
  workers are stateless between iterations. On the resident path one
  task per partition serves the whole run and the worker object lives
  that long. The engine picks the path at run time and falls back from
  resident to blob mid-run, so anything a guagua worker kept in instance
  fields across iterations must still live in the master result or be
  recomputed (SURVEY.md §7 "hard parts" #2).
"""

from __future__ import annotations

import abc
from dataclasses import dataclass, field
from typing import Any, Iterable, Iterator, Protocol, runtime_checkable

import pyarrow as pa


@runtime_checkable
class Combinable(Protocol):
    """Associative partial-merge of two worker results.

    The engine never merges results itself: every run hands the master
    each worker's result, in partition order, and the master merges
    them (e.g. with ``combine_all``), as the reference's master merges
    the results that reach it over Netty
    (master/NettyMasterCoordinator.java:160-200, threshold
    guagua.master.result.merge.threshold=10). Must be associative. The
    fold order is the partition order on every run, so a merge that is
    order-sensitive in its last bits (float sums) still gives the same
    model from run to run.
    """

    def combine(self, other: "Combinable") -> "Combinable": ...


@dataclass
class HaltableResult:
    """Master result base carrying the convergence flag.

    The engine stops iterating when the master result's ``halt`` attribute
    is truthy (reference io/HaltBytable.java:41-77; loop break at
    master/GuaguaMasterService.java:196).
    """

    halt: bool = False


def is_halt(result: Any) -> bool:
    """True if a master result signals convergence (duck-typed)."""
    return bool(getattr(result, "halt", False))


@dataclass
class MasterContext:
    """Driver-side per-iteration context (reference master/MasterContext.java).

    ``worker_results`` holds this iteration's worker results, one per
    arrived worker, in partition order. It is a list unless the results
    exceed the run's ``result_bytes_budget``: then it is a sequence
    that supports iteration (any number of passes), ``len()`` and
    indexing, and unpickles one result per access from a driver-local
    spill, so a master that iterates holds one result at a time (the
    reference's lazy master consumption over a disk-backed list,
    AbstractMasterCoordinator.java:243-310, BytableMemoryDiskList).
    ``all_workers_halted`` is already final when ``compute`` runs.
    """

    current_iteration: int
    total_iteration: int
    worker_results: Iterable[Any]
    master_result: Any = None  # previous iteration's result
    props: dict[str, Any] = field(default_factory=dict)
    attachment: Any = None
    num_workers: int = 0
    #: worker-voted halt (guagua.worker.halt.enable): True when every
    #: worker result this iteration carried halt=True
    #: (reference AbstractMasterCoordinator.java:311-350).
    all_workers_halted: bool = False
    #: how many workers' results actually arrived this iteration, so
    #: len(worker_results) — equals num_workers except under the partial
    #: barrier (min_workers_ratio), where stragglers' results are dropped
    #: for the iteration (reference BasicCoordinator.java:649-662).
    arrived_workers: int = 0


@dataclass
class WorkerContext:
    """Executor-side per-iteration context (reference worker/WorkerContext.java)."""

    current_iteration: int
    total_iteration: int
    last_master_result: Any
    props: dict[str, Any] = field(default_factory=dict)
    partition_id: int = -1
    attachment: Any = None


class MasterComputable(abc.ABC):
    """Global merge + model update, runs on the driver once per iteration.

    Reference contract: master/MasterComputable.java:51-61 (compute) and
    master/AbstractMasterComputable.java:28-62 (init-once template).
    """

    def init(self, context: MasterContext) -> None:  # noqa: B027
        """Called once before iteration 1 (optional override)."""

    @abc.abstractmethod
    def compute(self, context: MasterContext) -> Any:
        """Merge ``context.worker_results`` into the next master result."""


class WorkerComputable(abc.ABC):
    """Per-partition fold over the partition's data, once per iteration.

    Reference contract: worker/WorkerComputable.java:60-72 and the
    load-once template AbstractWorkerComputable.java:66-144. A worker
    without ``prepare`` runs on the Arrow path, where the "load-once,
    iterate many" protocol is the persisted DataFrame: the engine
    persists the input before the loop unless Spark already caches it,
    so every iteration's scan hits the block-manager cache, and
    ``compute`` sees fresh Arrow batches each round. The load-once paths
    below keep the prepared partition instead and persist no rows.

    Implementations MUST handle an empty batch iterator (a partition can
    be empty) and MUST NOT rely on instance state surviving between
    iterations (it does on the resident path, not on the others).

    LOAD-ONCE PATHS: a worker may additionally override ``prepare``
    (one-time Arrow→anything conversion per partition) and
    ``compute_prepared``. The engine then scans the input ONCE and every
    iteration calls ``compute_prepared`` with the prepared object instead
    of re-decoding rows→Arrow→numpy per round — the analogue of the
    reference's load-once worker cache
    (worker/AbstractWorkerComputable.java:66-104,
    util/MemoryDiskList.java). On the resident path the object stays in
    the memory of the task that prepared it for the whole run; on the
    blob path it is persisted once (pickled, block manager,
    MEMORY_AND_DISK) and crosses the JVM→Python boundary as one opaque
    blob per round. ``compute_prepared`` must not modify it: the
    resident path hands the same object to every iteration. ``prepare``
    is on the first iteration's critical path, once per partition, so
    it should copy the partition once: the built-in workers allocate
    their matrix from the batch lengths and fill it column by column
    (algorithms/gradient.py ``_features_matrix``) instead of stacking
    every batch and then concatenating the stacks.
    """

    def init(self, context: WorkerContext) -> None:  # noqa: B027
        """Called once per task before compute (optional override)."""

    @abc.abstractmethod
    def compute(
        self, context: WorkerContext, batches: Iterator[pa.RecordBatch]
    ) -> Any:
        """Fold the partition's record batches into one worker result."""

    #: sentinel: engine detects an overridden prepare by identity
    def prepare(self, batches: Iterator[pa.RecordBatch]) -> Any:
        """One-time per-partition conversion for the load-once fast
        path (optional override; must be picklable and handle an empty
        iterator). Return the partition's data in whatever form
        ``compute_prepared`` wants (e.g. numpy matrices)."""
        raise NotImplementedError

    def compute_prepared(self, context: WorkerContext, data: Any) -> Any:
        """Per-iteration fold over the ``prepare``-converted partition
        data (required iff ``prepare`` is overridden)."""
        raise NotImplementedError


class MasterInterceptor:
    """Lifecycle hooks around the master loop.

    Reference: master/MasterInterceptor.java:57-81. ``pre_*`` hooks run
    FIFO, ``post_*`` hooks run FILO (ordering contract at
    GuaguaMasterService.java:63-65,281-284).
    """

    def pre_application(self, context: MasterContext) -> None:  # noqa: B027
        pass

    def pre_iteration(self, context: MasterContext) -> None:  # noqa: B027
        pass

    def post_iteration(self, context: MasterContext) -> None:  # noqa: B027
        pass

    def post_application(self, context: MasterContext) -> None:  # noqa: B027
        pass


class WorkerInterceptor:
    """Lifecycle hooks around worker computation, run ON EXECUTORS.

    Reference: worker/WorkerInterceptor.java:49-81 — four hooks with
    FIFO ``pre_*`` / FILO ``post_*`` ordering (the call-stack contract
    described at WorkerInterceptor.java:33-38, same as the master side
    at GuaguaMasterService.java:63-65).

    Spark mapping (see the module docstring on task lifetime): a
    worker's "application" span is tied to the iteration
    counter — ``pre_application`` fires in the first iteration's task
    (before ``pre_iteration``), ``post_application`` in the
    ``total_iteration``-th task (after ``post_iteration``). When the
    master halts the loop EARLY, executor-side ``post_application``
    cannot fire (a task can't see the future); guaranteed end-of-run
    cleanup belongs in a driver-side ``MasterInterceptor``. Interceptors
    are pickled into the task closure — keep them small and stateless:
    state written to instance fields lasts one iteration on the Arrow
    and blob paths and the whole run on the resident path, and a hook
    may run again for an iteration that is retried (a failed resident
    job is finished on the blob path from the failed iteration).
    """

    def pre_application(self, context: WorkerContext) -> None:  # noqa: B027
        pass

    def pre_iteration(self, context: WorkerContext) -> None:  # noqa: B027
        pass

    def post_iteration(self, context: WorkerContext) -> None:  # noqa: B027
        pass

    def post_application(self, context: WorkerContext) -> None:  # noqa: B027
        pass


def combine_all(results: Iterable[Any]) -> Any:
    """Left-fold a sequence of Combinable results into one."""
    it = iter(results)
    try:
        acc = next(it)
    except StopIteration:
        return None
    for r in it:
        acc = acc.combine(r)
    return acc
