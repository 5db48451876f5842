"""The iterative BSP engine: driver = master, executors = workers.

    prepare/persist input → loop:
        ship(master_result)                     # socket | inline | broadcast
        per-partition fold                      # resident | blob | Arrow
        partials up the run's socket            # | treeReduce(combine)
        master.compute(worker_results)          # model update, driver-side
        halt? → break
    stop the resident tasks / unpersist

Per-iteration latency model (measured on 4 cores, local[4], pyspark
4.1.2, Python 3.11): a Spark job of trivial Python tasks costs ~0.1 s
with one task, ~0.15 s with 4 and ~0.3 s with 16, while a superstep
over a socket to tasks that are already running costs well under a
millisecond. Most of a job's cost is per task, not scheduling. At the
start of every task PySpark re-reads the zip archives on the worker's
sys.path, ~0.25 s, unless shipping.install_zip_check is in place
(importing guagua_spark installs it: a local session's workers have it
from their daemon, others from their first guagua task); without it
the same jobs cost ~0.2, ~0.35 and ~1.0 s. A session's first Python
job also starts the worker daemon. Spark puts pyspark.zip first on the
workers' path, and zipimport caches no bytecode, so PySpark's own
daemon compiles pyspark from source in every session: that first
4-task job took 1.6-2.1 s in a warm JVM, against ~0.6 s with
guagua_spark._daemon, which get_spark selects for local sessions and
which imports the installed pyspark from its cached bytecode. And
PySpark reuses a Python worker only for tasks that read their whole
input, so every engine task does (see _drain); a task that stops
early makes the next one fork a fresh worker. An iteration off the
resident path is ONE such job. A resident run's first iteration is its
one job's launch plus the slowest task's input and ``prepare``. On
perfbench's lr_long (4 tasks of 75k rows x 21 doubles) a task enters
70-100 ms after run() starts; its input plus ``prepare`` then takes
~0.2 s when the JVM streams it the cached rows as Arrow batches, and
~0.07 s when it reads the same rows from its own parquet file, so the
first iteration is ~0.30 s over the rows and ~0.12 s over parquet
splits. Of a warm lr_long train (~0.25 s over splits), ~0.10 s is
Spark's own floor for the one job: submit, launch and end, the part of
a run the engine does not control. The engine's own fixed cost per run
is the split plan (~80 py4j calls, ~14 ms) and the job's build. The
plan is made on every run: a Spark write to a cached DataFrame's path
refreshes its file listing in place, so a plan kept from an earlier run
could miss the new files. The rest is kept off that path: a resident
superstep makes no py4j call (the job description is set only on
iterations that launch a job), the job ends with a JVM-side action
instead of collect() serving its empty result through a new socket
(~10 ms), and ``prepare`` copies the partition once
(gradient._features_matrix: ~10 ms a partition, not 28). After the
first iteration, a resident superstep is the slowest worker's compute:
numpy, at the speed of the BLAS kernel the worker's OpenBLAS loaded.
get_spark picks that kernel for local sessions
(session._openblas_coretype says why); a cluster sets
``spark.executorEnv.OPENBLAS_CORETYPE`` at deploy time. One nn_backprop
worker (25k rows, [20,64,32,1], one thread) takes ~95 ms a superstep on
OpenBLAS's SSE3 ``Prescott`` fallback and ~43 ms on ``SkylakeX``: ~19 ms
of matmuls, ~11 ms of sigmoid and ~12 ms of other elementwise products
and sums. The engine reaches the workers one of three ways and logs its
choice, with the reason, once per run at INFO:

- resident: ONE gang-scheduled (barrier) Spark job per run. Each task
  prepares its partition once, keeps it in memory and connects back to
  the run's listener on the driver; every superstep is a socket frame
  down (the master result) and one up (the partial). Taken by a worker
  that overrides ``prepare``, with no executor-side combine, ≤ 32
  partitions, no more partitions than the scheduler has task slots,
  and no dynamic allocation (Spark rejects barrier stages under it).
  Its input: when ``df`` is a bare parquet scan of whole local files
  (at most a projection of its columns, cached or not), the job is a
  barrier RDD over Spark's own file partitions and each task reads its
  files with pyarrow (sources/splits.py), so the stage width is the
  split plan's, fixed before submit; otherwise it is a barrier
  mapInArrow job over ``df``'s rows, and the INFO line names the
  reason. If the job dies (a task also fails it on a file whose size
  or mtime changed since planning), the run finishes on the blob path
  over ``df`` from the failed iteration. The tasks hold their slots
  until run() returns: a Spark job that a master or master interceptor
  waits on mid-run gets only the other slots, and none when the
  partitions fill the cluster, so it would never finish.
- blob: the other prepared runs of ≥ LOAD_ONCE_MIN_ROUNDS rounds. Each
  partition's prepared object is persisted as one pickled blob; each
  iteration is one job over them.
- Arrow: workers without ``prepare``, and the shorter prepared runs the
  resident path cannot take. Each iteration is one job that re-reads
  the persisted rows as Arrow batches.

The way up is the same on every path: a task sends its pickled partial
to the run's listener as one _UP frame (iteration, length, halt vote)
after the run token and a hello, and one gather (_Listener.gather)
reads the frames in arrival order with ``selectors``. It hands the
master the partials in partition order, keeps the first complete frame
per partition (task retries, speculation) and drops a frame of an older
iteration unpickled. Past ``result_bytes_budget`` of raw frames it
spills the rest to a driver-local temp file (_Partials). Under
``min_workers_ratio`` < 1 the gather is the partial barrier: at
``min_workers_timeout`` it proceeds once arrived/total ≥ the ratio and
cancels the rest of a per-iteration job by its tag; a resident task
that still owes a frame is sent no superstep until its late frame has
been read and dropped, and run() ends such a job by cancelling it and
waiting until its tasks have ended (_Job.wait_for_tasks). The one
exception is a full-barrier run with more than 32 partitions or
``combine_executor_side=True``: its tasks return their partials to
Spark, which merges them executor-side with treeReduce.

This single loop replaces the reference's entire coordination layer
(~4,000 LoC of ZooKeeper/Netty master-worker barriers — SURVEY.md §2.6):
GuaguaMasterService.run's iteration loop (master/GuaguaMasterService.java:
185-293), the worker mirror loop (worker/GuaguaWorkerService.java:209-341),
znode publish/poll broadcast (master/AbstractMasterCoordinator.java:58-113),
and the Netty result transport (master/NettyMasterCoordinator.java:
160-200), which the listener brings back as a plain socket with the
partial barrier as a deadline on it (BasicCoordinator.java:649-662);
Spark still does placement, gang scheduling and failure detection.

Scale notes (100 TB / 1000 executors):
- Input is read once before the loop — the analogue of the reference's
  load-once worker cache (worker/AbstractWorkerComputable.java: 66-104,
  util/MemoryDiskList.java): resident tasks hold their prepared partition
  in memory; the other paths persist MEMORY_AND_DISK, so re-reads hit
  the block manager and partitions that don't fit in memory spill
  instead of recomputing.
- Worker→master traffic is one frame per partition per iteration, read
  as it arrives. The driver holds at most ``result_bytes_budget`` of
  them in memory and spills the rest to disk, where the master reads
  them one at a time (the reference's BytableMemoryDiskList). With a
  Combinable result and more than 32 partitions the engine pre-merges
  executor-side via treeReduce (depth 2) instead, so the driver sees
  O(sqrt(P)) results, not O(P).
- Master→worker traffic off the resident path is TorrentBroadcast
  (BitTorrent-style chunks) above INLINE_MODEL_BYTES; the reference's
  1 MB ZK chunking (GuaguaConstants.java:140-142) has no analogue
  because broadcast already scales. Previous iterations' broadcasts are
  destroyed eagerly (analogue of iter−2 znode GC,
  AbstractMasterCoordinator.java:92-107).
"""

from __future__ import annotations

import hmac
import logging
import os
import pickle
import re
import secrets
import selectors
import socket
import struct
import tempfile
import time
import uuid
from collections.abc import Sequence
from typing import Any, Callable, Iterator, NamedTuple

import pyarrow as pa
from pyspark import BarrierTaskContext, InheritableThread, TaskContext
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from guagua_spark.api import (
    Combinable,
    MasterComputable,
    MasterContext,
    MasterInterceptor,
    WorkerComputable,
    WorkerContext,
    WorkerInterceptor,
    is_halt,
)
from guagua_spark.sources.splits import SplitPlan, plan_splits

log = logging.getLogger("guagua_spark.engine")

#: default iteration budget — reference guagua.iteration.count
#: (GuaguaConstants.java:35-37)
DEFAULT_TOTAL_ITERATION = 50

#: models at or below this pickled size ride the task closure instead of
#: a TorrentBroadcast: a broadcast write+read round-trip costs ~150 ms
#: per iteration on local mode (measured), pure overhead for the
#: few-KB models of LR/k-means/small NN. Above it (wide NN, big
#: centroid sets) broadcast amortizes across tasks as usual. Kept small
#: because an inlined model is shipped once PER TASK via the scheduler.
INLINE_MODEL_BYTES = 256 * 1024

#: a prepared run the resident path cannot take (more partitions than
#: task slots, > 32 partitions, executor-side combine, dynamic
#: allocation) uses the blob path from this many remaining rounds on,
#: the Arrow path below it. Measured on 4 cores, local[4], lr_long's
#: 300k x 20 input cached in 8 partitions, 4 interleaved runs each: the
#: blob path's first iteration (its prepare pass and persisted copy)
#: took ~1.07 s against ~0.47 s for an Arrow iteration, its steady
#: iteration ~0.16 s against ~0.46 s, so runs of 2/3/5 rounds took
#: 1.31/1.44/1.69 s on the blob path and 0.95/1.43/2.30 s on the Arrow
#: path: they meet at 3 rounds.
LOAD_ONCE_MIN_ROUNDS = 3

#: partials a run may hold in driver memory, in raw pickled bytes, per
#: iteration; the gather spills the rest to a temp file (_Partials)
DEFAULT_RESULT_BYTES_BUDGET = 256 * 1024 * 1024


class _ModelRef:
    """Master-result carrier for the down-link: inline pickle for small
    models, TorrentBroadcast of the SAME payload bytes otherwise — the
    model is serialized exactly once per iteration either way (the
    reference's equivalent knob is its 1 MB ZK znode chunking,
    GuaguaConstants.java:140-142)."""

    __slots__ = ("payload", "bc")

    def __init__(self, payload: bytes | None = None, bc=None) -> None:
        self.payload = payload
        self.bc = bc

    def get(self) -> Any:
        raw = self.bc.value if self.bc is not None else self.payload
        return pickle.loads(raw)

    def destroy(self) -> None:
        if self.bc is not None:
            self.bc.destroy()


class _Partial:
    """Internal wrapper combined executor-side by treeReduce: carries the
    user result, the AND of worker halt votes, and the partition count."""

    __slots__ = ("result", "all_halt", "n")

    def __init__(self, result: Any, all_halt: bool, n: int = 1) -> None:
        self.result = result
        self.all_halt = all_halt
        self.n = n


class _Task(NamedTuple):
    """What one iteration's worker task needs besides its partition data.
    The worker object, props and interceptors are serialized into the
    task closure; the (potentially large) master result rides the
    _ModelRef. ``up`` is the run listener's (address, token); None on a
    treeReduce run, whose tasks return their partials to Spark."""

    worker: WorkerComputable
    iteration: int
    total_iteration: int
    props: dict[str, Any]
    model: _ModelRef
    interceptors: Sequence[WorkerInterceptor]
    up: tuple[tuple[str, int], bytes] | None = None


def _drain(it: Iterator[Any]) -> None:
    """Read a task's input to its end. PySpark reuses a Python worker
    for the next task only if the task read its whole input stream;
    otherwise the worker exits and the next task forks a fresh process
    that pays the interpreter's start-up and imports again."""
    for _ in it:
        pass


def _partition_id() -> int:
    tc = TaskContext.get()
    return tc.partitionId() if tc is not None else -1


def _run_task(
    task: _Task, pid: int, compute: Callable[[WorkerContext], Any]
) -> Any:
    """The one worker-task body every path runs; paths differ only in
    how ``compute`` obtains the partition data. Hook order is the
    reference's call-stack contract (worker/WorkerInterceptor.java:33-38):
    [iter 1: pre_application FIFO] → pre_iteration FIFO → init/compute →
    post_iteration FILO → [iter N: post_application FILO]. Returns the
    worker's result."""
    ctx = WorkerContext(
        current_iteration=task.iteration,
        total_iteration=task.total_iteration,
        last_master_result=task.model.get(),
        props=task.props,
        partition_id=pid,
    )
    if task.iteration == 1:
        for icpt in task.interceptors:
            icpt.pre_application(ctx)
    for icpt in task.interceptors:
        icpt.pre_iteration(ctx)
    task.worker.init(ctx)
    result = compute(ctx)
    for icpt in reversed(task.interceptors):
        icpt.post_iteration(ctx)
    if task.iteration == task.total_iteration:
        for icpt in reversed(task.interceptors):
            icpt.post_application(ctx)
    return result


def _emit(task: _Task, pid: int, result: Any) -> list[bytes]:
    """End of a per-iteration task: send the partial up the run's socket
    and return nothing, or, on a treeReduce run, return it pickled with
    its halt vote for Spark to carry."""
    if task.up is None:
        raw = pickle.dumps(
            (result, is_halt(result)), protocol=pickle.HIGHEST_PROTOCOL
        )
        return [raw]
    addr, token = task.up
    with socket.create_connection(addr) as sock:
        sock.sendall(
            token + _HELLO.pack(pid, 0) + _up_frame(task.iteration, result)
        )
        # the driver closes once it has read the frame, so a finished
        # task's partial is always at the driver
        sock.recv(1)
    return []


def _make_worker_fn(
    task: _Task,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """mapInArrow task over the persisted rows: the worker folds the
    partition's Arrow batches."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = _partition_id()
        result = _run_task(
            task, pid, lambda ctx: task.worker.compute(ctx, batches)
        )
        _drain(batches)
        for raw in _emit(task, pid, result):
            yield pa.RecordBatch.from_pydict({"result": [raw]})

    return fn


def _make_prepare_fn(
    worker: WorkerComputable,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """One-time per-partition conversion for the load-once fast path:
    emit exactly ONE pickled blob per partition (empty partitions
    included — prepare() sees an empty iterator and must return its
    empty representation)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        data = worker.prepare(batches)
        _drain(batches)
        yield pa.RecordBatch.from_pydict(
            {"blob": [pickle.dumps(data, protocol=pickle.HIGHEST_PROTOCOL)]}
        )

    return fn


def _make_prepared_iter_fn(
    task: _Task,
) -> Callable[[Iterator[bytes]], Iterator[bytes]]:
    """Per-iteration task over the persisted prepared blobs: the
    partition data arrives as one pickle.loads (memcpy for numpy)
    instead of an Arrow decode."""

    def fn(blobs: Iterator[bytes]) -> Iterator[bytes]:
        (blob,) = blobs  # reads the stream to its end; see _drain
        pid = _partition_id()
        result = _run_task(
            task,
            pid,
            lambda ctx: task.worker.compute_prepared(ctx, pickle.loads(blob)),
        )
        yield from _emit(task, pid, result)

    return fn


def _prepared_blobs(df: DataFrame, worker: WorkerComputable):
    """The blob path's input: one persisted pickled prepare() output per
    partition. Take the run's partition count from this RDD: under AQE a
    shuffle-rooted ``df`` can re-plan with a different partition count
    on every ``.rdd`` call (observed: a groupBy-rooted vocabulary flips
    between 1 and 8)."""
    return (
        df.mapInArrow(_make_prepare_fn(worker), "blob binary")
        .rdd.map(lambda row: bytes(row.blob))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


# -- the run's socket ------------------------------------------------------
# Wire format, all big-endian. A task connects and sends the raw run
# token, then _HELLO (partition id, tasks in the stage; 0 for a
# per-iteration task), then one _UP frame per superstep: (iteration,
# payload length, halt vote) + the pickled worker result. A resident
# task keeps its connection and gets _DOWN (iteration, payload length)
# + the pickled master result before each superstep; iteration 0 tells
# it to stop. A per-iteration task sends its one frame and waits for
# the driver to close the connection.
_DOWN = struct.Struct("!qQ")
_HELLO = struct.Struct("!qq")
_UP = struct.Struct("!qQ?")
_STOP = _DOWN.pack(0, 0)
_TOKEN_BYTES = 32
#: driver-side socket poll: how often a wait re-checks that the job lives
_POLL_S = 0.1
#: how long a new connection may take to send its token and hello
_HELLO_TIMEOUT_S = 10.0
#: how long closing a cancelled resident job waits for its tasks to end
_TASK_END_TIMEOUT_S = 30.0


def _up_frame(iteration: int, result: Any) -> bytes:
    payload = pickle.dumps(result, protocol=pickle.HIGHEST_PROTOCOL)
    return _UP.pack(iteration, len(payload), is_halt(result)) + payload


#: the exception line that ends a Python traceback, module path dropped
_TRACEBACK_ERROR = re.compile(
    r"^(?:[\w.]+\.)?(\w+(?:Error|Exception): .*)$", re.MULTILINE
)


class _ResidentLost(Exception):
    """The resident job cannot serve supersteps any more. The message
    is the class and first line of the error that showed it; when that
    error carries a task's Python traceback (a failed job's
    Py4JJavaError), it is the traceback's own last line instead, which
    names the task's error rather than the driver's py4j call."""

    def __init__(self, cause: BaseException) -> None:
        text = str(cause)
        start = text.rfind("Traceback (most recent call last):")
        found = _TRACEBACK_ERROR.search(text, start) if start >= 0 else None
        if found:
            super().__init__(found[1])
        else:
            first = (text.strip().splitlines() or [""])[0]
            super().__init__(f"{type(cause).__name__}: {first}")


def _recv_exact(
    sock: socket.socket, n: int, check: Callable[[], None] | None = None
) -> bytearray:
    """Read exactly ``n`` bytes. On a socket with a timeout, ``check``
    runs at every timeout and raises once waiting is pointless."""
    buf = bytearray(n)
    view = memoryview(buf)
    got = 0
    while got < n:
        try:
            k = sock.recv_into(view[got:])
        except TimeoutError:
            check()
            continue
        if k == 0:
            raise EOFError(f"connection closed after {got} of {n} bytes")
        got += k
    return buf


def _send_all(
    sock: socket.socket, data: bytes, check: Callable[[], None]
) -> None:
    """sendall on a socket with a timeout, running ``check`` at every
    timeout (a timed-out send() has sent nothing)."""
    view = memoryview(data)
    while view:
        try:
            view = view[sock.send(view):]
        except TimeoutError:
            check()


def _serve_resident(
    batches: Iterator[pa.RecordBatch],
    worker: WorkerComputable,
    total_iteration: int,
    props: dict[str, Any],
    interceptors: Sequence[WorkerInterceptor],
    addr: tuple[str, int],
    token: bytes,
) -> None:
    """Body of a resident task: prepare the partition once, connect to
    the driver, then run one _run_task per superstep frame until the
    stop frame. The worker and interceptor objects live for the whole
    run. Module-level, so task closures pickle it by reference."""
    pid = _partition_id()
    tasks = len(BarrierTaskContext.get().getTaskInfos())
    data = worker.prepare(batches)
    _drain(batches)

    def compute(ctx: WorkerContext) -> Any:
        return worker.compute_prepared(ctx, data)

    with socket.create_connection(addr) as sock:
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        sock.sendall(token + _HELLO.pack(pid, tasks))
        while True:
            iteration, size = _DOWN.unpack(_recv_exact(sock, _DOWN.size))
            if iteration == 0:
                return
            model = _ModelRef(payload=_recv_exact(sock, size))
            task = _Task(
                worker, iteration, total_iteration, props, model,
                interceptors,
            )
            sock.sendall(_up_frame(iteration, _run_task(task, pid, compute)))


def _make_resident_fn(
    worker: WorkerComputable,
    total_iteration: int,
    props: dict[str, Any],
    interceptors: Sequence[WorkerInterceptor],
    addr: tuple[str, int],
    token: bytes,
    splits: SplitPlan | None,
) -> Callable[[Iterator[Any]], Iterator[Any]]:
    """Function of the resident job; it yields nothing. Without
    ``splits`` it is the mapInArrow function over ``df``'s rows; with
    them, a task of a barrier RDD job that reads its own files and
    drains its one-number input."""

    def fn(rows: Iterator[Any]) -> Iterator[Any]:
        batches = rows
        if splits is not None:
            _drain(rows)
            batches = splits.read(_partition_id())
        _serve_resident(
            batches, worker, total_iteration, props, interceptors, addr,
            token,
        )
        return iter(())

    return fn


class _Partials(Sequence):
    """One superstep's partials, kept by partition id: pickled bytes in
    memory up to ``budget`` raw bytes, and past it in a temp file (the
    reference's BytableMemoryDiskList). Indexing unpickles one partial,
    in partition order, so a master that iterates holds one at a time
    and may iterate again or take len(). Halt votes come from the frame
    headers."""

    def __init__(self, budget: int) -> None:
        self.budget = budget
        self.held = 0
        self.spill = None
        self.raw: dict[int, bytes | tuple[int, int]] = {}
        self.halts: dict[int, bool] = {}
        self._order: list[int] | None = None

    def add(self, pid: int, halt: bool, payload: bytearray) -> None:
        self.halts[pid] = halt
        if self.spill is None and self.held + len(payload) <= self.budget:
            self.held += len(payload)
            self.raw[pid] = payload
            return
        if self.spill is None:
            self.spill = tempfile.TemporaryFile(prefix="guagua_results_")
        self.spill.seek(0, os.SEEK_END)
        self.raw[pid] = (self.spill.tell(), len(payload))
        self.spill.write(payload)

    def __len__(self) -> int:
        return len(self.raw)

    def __getitem__(self, i):
        if isinstance(i, slice):
            return [self[j] for j in range(*i.indices(len(self)))]
        if self._order is None:
            self._order = sorted(self.raw)
        raw = self.raw[self._order[i]]
        if isinstance(raw, tuple):
            offset, size = raw
            self.spill.seek(offset)
            raw = self.spill.read(size)
        return pickle.loads(raw)

    def results(self) -> Sequence[Any]:
        """What the master gets: the partials unpickled into a list, or
        this sequence once some spilled."""
        if self.spill is not None:
            return self
        return [pickle.loads(self.raw[p]) for p in sorted(self.raw)]

    def all_halt(self) -> bool:
        return bool(self.halts) and all(self.halts.values())


class _Job:
    """One Spark action run from an InheritableThread, so it keeps the
    caller's job group, description and scheduler pool, under a job tag
    of its own with interrupt-on-cancel: cancelling it touches no other
    job of the caller's group and stops its Python workers."""

    def __init__(self, sc, action: Callable[[], Any]) -> None:
        self.sc = sc
        self.tag = f"guagua-{uuid.uuid4().hex[:12]}"
        self.error: BaseException | None = None
        self.cancelled = False

        def run() -> None:
            try:
                sc.addJobTag(self.tag)
                sc.setInterruptOnCancel(True)
                action()
            except Exception as exc:  # noqa: BLE001 — raised by check/finish
                self.error = exc

        self.thread = InheritableThread(target=run, daemon=True)
        self.thread.start()

    def check(self) -> None:
        """Raise once the job has ended: a gather waiting on it for
        more frames waits in vain."""
        if not self.thread.is_alive():
            raise self.error or EOFError(
                "the job ended before every partial arrived"
            )

    def cancel(self) -> None:
        self.cancelled = True
        # repeat: a job that was not yet submitted at the first cancel
        # is caught by the next
        while self.thread.is_alive():
            self.sc.cancelJobsWithTag(self.tag)
            self.thread.join(_POLL_S * 10)

    def wait_for_tasks(self, timeout_s: float) -> None:
        """Wait, at most ``timeout_s``, until no task of the cancelled
        job runs. A job ends at its cancel, its tasks later: one busy in
        Python ends when Spark kills its worker, 2-4 s on. Until then
        Spark may also kill a worker that the task released earlier (the
        worker of a Python stage feeding its rows), which by then can
        serve another task and fail it."""
        status = self.sc.statusTracker()
        jobs = self.sc._jsc.sc().statusTracker().getJobIdsForTag(self.tag)
        stages = [
            stage
            for job in (status.getJobInfo(j) for j in jobs)
            if job is not None
            for stage in job.stageIds
        ]
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline and any(
            info is not None and info.numActiveTasks > 0
            for info in map(status.getStageInfo, stages)
        ):
            time.sleep(_POLL_S)

    def finish(self) -> None:
        """Wait for the job; raise its error unless it was cancelled."""
        self.thread.join()
        if self.error is not None and not self.cancelled:
            raise self.error


class _Listener:
    """The run's socket, bound to the driver's host, and the one gather
    of worker partials. A connection's first bytes must be the run's raw
    token; any other connection is closed unread, so nothing a stranger
    sends is ever unpickled. On a resident run the first hello fixes
    the run's task count (the stage as Spark realized it: over ``df``'s
    rows under AQE it can differ from an earlier ``getNumPartitions()``;
    over parquet splits it is the plan's); every other hello must
    agree."""

    def __init__(
        self,
        host: str,
        ratio: float = 1.0,
        timeout_s: float = 0.0,
        budget: int = DEFAULT_RESULT_BYTES_BUDGET,
    ) -> None:
        self.ratio = ratio
        self.timeout_s = timeout_s
        self.budget = budget
        self.spilled = False
        self.token = secrets.token_bytes(_TOKEN_BYTES)
        self.tasks: int | None = None
        #: resident connections by partition id
        self.conns: dict[int, socket.socket] = {}
        #: resident tasks sent a superstep whose frame is not read yet
        self.owes: set[int] = set()
        self.sock = socket.create_server((host, 0))
        self.sock.setblocking(False)
        self.addr = self.sock.getsockname()[:2]
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.sock, selectors.EVENT_READ)

    def _greeted(self, check: Callable[[], None]):
        """Accept every pending connection; yield (conn, partition id,
        tasks) for each that sends the run token and a hello, and close
        the others."""
        while True:
            try:
                conn, _ = self.sock.accept()
            except BlockingIOError:
                return
            conn.settimeout(_POLL_S)
            hello = None
            try:
                hello = self._hello(conn, check)
            except (OSError, EOFError):  # timed out or hung up mid-hello
                pass
            if hello is None:
                conn.close()
                continue
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            yield (conn, *hello)

    def _hello(self, conn: socket.socket, check: Callable[[], None]):
        deadline = time.monotonic() + _HELLO_TIMEOUT_S

        def waiting() -> None:
            check()
            if time.monotonic() > deadline:
                raise TimeoutError("no hello")

        token = bytes(_recv_exact(conn, _TOKEN_BYTES, waiting))
        if not hmac.compare_digest(token, self.token):
            log.warning("run listener: closed a connection with a wrong token")
            return None
        return _HELLO.unpack(_recv_exact(conn, _HELLO.size, waiting))

    def accept(self, check: Callable[[], None]) -> None:
        """Accept until every task of the resident stage said hello;
        ``check`` raises _ResidentLost once the job is gone."""
        while self.tasks is None or len(self.conns) < self.tasks:
            check()
            if not self.sel.select(_POLL_S):
                continue
            for conn, pid, tasks in self._greeted(check):
                if (
                    tasks != (self.tasks or tasks)
                    or pid in self.conns
                    or not 0 <= pid < tasks
                ):
                    conn.close()
                    raise _ResidentLost(
                        ValueError(f"hello from task {pid} of {tasks} after "
                                   f"{sorted(self.conns)} of {self.tasks}")
                    )
                self.tasks = tasks
                self.conns[pid] = conn
                self.sel.register(conn, selectors.EVENT_READ, pid)

    def gather(
        self,
        iteration: int,
        waiting: set[int],
        total: int,
        check: Callable[[], None],
    ) -> _Partials:
        """Read _UP frames in arrival order until every partition in
        ``waiting`` sent this iteration's, or, under the partial barrier
        (reference BasicCoordinator.java:649-662), until the deadline
        once arrived/total ≥ the ratio. ``check`` runs whenever the
        sockets are quiet and raises once waiting is pointless."""
        got = _Partials(self.budget)
        deadline = time.monotonic() + self.timeout_s
        while waiting:
            wait = _POLL_S
            if self.ratio < 1.0:
                left = deadline - time.monotonic()
                if left <= 0 and len(got) / total >= self.ratio:
                    break
                if left > 0:
                    wait = min(wait, left)
            events = self.sel.select(wait)
            if not events:
                check()
            for key, _ in events:
                if key.data is not None:  # a resident task's connection
                    self._read_up(key.fileobj, key.data, iteration,
                                  waiting, got, check)
                    continue
                for conn, pid, tasks in self._greeted(check):
                    with conn:
                        try:
                            if tasks == 0:
                                self._read_up(conn, pid, iteration, waiting,
                                              got, check)
                        except (OSError, EOFError):
                            pass  # the attempt died mid-frame; a retry resends
        if got.spill is not None and not self.spilled:
            self.spilled = True
            log.info(
                "worker results past the %d-byte budget at iteration %d: "
                "spilling partials to disk", self.budget, iteration,
            )
        return got

    def _read_up(self, conn, pid, iteration, waiting, got, check) -> None:
        """Read one _UP frame; keep it if it is this iteration's first
        from ``pid``. Any other frame is read to its end, so the stream
        stays in step, and dropped unpickled."""
        it, size, halt = _UP.unpack(_recv_exact(conn, _UP.size, check))
        payload = _recv_exact(conn, size, check)
        self.owes.discard(pid)
        if it == iteration and pid in waiting:
            got.add(pid, halt, payload)
            waiting.discard(pid)

    def gather_job(
        self, sc, action: Callable[[], Any], iteration: int, partitions: int
    ) -> _Partials:
        """Run one per-iteration Spark job and gather its partials;
        cancel the job if the partial barrier proceeded without some."""
        job = _Job(sc, action)
        got = None
        try:
            got = self.gather(
                iteration, set(range(partitions)), partitions, job.check
            )
        finally:
            if got is None or len(got) < partitions:
                job.cancel()
        job.finish()
        return got

    def close(self) -> None:
        for conn in self.conns.values():
            conn.close()
        self.sel.close()
        self.sock.close()


class _Resident:
    """Driver end of a resident run. The barrier job starts at the first
    superstep, as a _Job."""

    def __init__(
        self,
        sc,
        df: DataFrame,
        worker: WorkerComputable,
        total_iteration: int,
        props: dict[str, Any],
        interceptors: Sequence[WorkerInterceptor],
        splits: SplitPlan | None,
        listener: _Listener,
    ) -> None:
        self.sc = sc
        self.args = (df, worker, total_iteration, props, interceptors)
        self.splits = splits
        self.listener = listener
        self.job: _Job | None = None

    def _start(self) -> None:
        df, worker, total_iteration, props, interceptors = self.args
        fn = _make_resident_fn(
            worker, total_iteration, props, interceptors,
            self.listener.addr, self.listener.token, self.splits,
        )
        if self.splits is None:
            job = df.mapInArrow(fn, "done boolean", barrier=True)
        else:
            n = len(self.splits.partitions)
            job = self.sc.parallelize(range(n), n).barrier().mapPartitions(fn)

        def action() -> None:
            self.sc.setJobDescription("guagua resident run")
            # JVM-side actions that run the job's one stage: the tasks
            # yield nothing, and collect() would serve that empty result
            # back through a new authenticated socket (~10 ms)
            if self.splits is None:
                job.write.format("noop").mode("overwrite").save()
            else:
                job._jrdd.count()

        self.job = _Job(self.sc, action)
        self.listener.accept(self._check)

    def _check(self) -> None:
        if not self.job.thread.is_alive():
            raise _ResidentLost(
                self.job.error or EOFError("the resident job ended")
            )

    def superstep(self, iteration: int, payload: bytes) -> _Partials:
        """Send the master result to every task that owes no frame and
        gather this iteration's partials. A task that still owes one
        (dropped at an earlier deadline) sits this superstep out."""
        try:
            if self.job is None:
                self._start()
            listener = self.listener
            frame = _DOWN.pack(iteration, len(payload)) + payload
            sent = set(listener.conns) - listener.owes
            for pid in sent:
                _send_all(listener.conns[pid], frame, self._check)
            listener.owes |= sent
            return listener.gather(iteration, sent, listener.tasks, self._check)
        except (OSError, EOFError) as exc:
            raise _ResidentLost(exc) from exc

    def close(self, cancel: bool = False) -> None:
        """Release the run's task slots: send every task the stop frame,
        or cancel the job when asked to, when some task still owes a
        frame or when some task cannot be told; then wait for the job,
        which also lands the tasks' accumulator updates on the driver."""
        told = 0
        if self.job is not None and not cancel and not self.listener.owes:
            for conn in self.listener.conns.values():
                try:
                    _send_all(conn, _STOP, self._check)
                    told += 1
                except (OSError, _ResidentLost):
                    pass
        self.listener.close()
        if self.job is None:
            return
        if told != self.listener.tasks:  # None: no task ever said hello
            self.job.cancel()
            self.job.wait_for_tasks(_TASK_END_TIMEOUT_S)
        self.job.thread.join()


def _task_slots(sc) -> int:
    """How many tasks the scheduler can run at once under the default
    resource profile; a barrier stage needs one slot per task."""
    jsc = sc._jsc.sc()
    return jsc.maxNumConcurrentTasks(
        jsc.resourceProfileManager().defaultResourceProfile()
    )


def _resident_blocker(
    sc, num_partitions: int, combine_executor_side: bool | None
) -> str | None:
    """Why a prepared run cannot take the resident path, or None when
    it can. The slot check runs before any job is submitted: a barrier
    stage wider than the cluster is retried by Spark's slot check for
    minutes before it fails."""
    if num_partitions == 0:
        return "no partitions"
    if combine_executor_side is True:
        return "executor-side combine"
    if num_partitions > 32:
        return f"{num_partitions} partitions > 32"
    dyn = sc._conf.get("spark.dynamicAllocation.enabled", "false")
    if dyn.lower() == "true":
        return "dynamic allocation"
    slots = _task_slots(sc)
    if num_partitions > slots:
        return f"{num_partitions} partitions > {slots} task slots"
    return None


class IterativeEngine:
    """Run (master, worker) computables to convergence over a DataFrame.

    Lifecycle parity (reference GuaguaMasterService.java:166-337):
    ``pre_application`` → per-iteration [``pre_iteration`` → worker job →
    master compute → ``post_iteration``] → ``post_application`` (FILO).
    """

    def __init__(
        self,
        spark,
        props: dict[str, Any] | None = None,
        checkpoint_dir: str | None = None,
        checkpoint_interval: int = 0,
    ) -> None:
        self.spark = spark
        self.props = dict(props or {})
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_interval = checkpoint_interval
        #: per-iteration wall-times, exposed for tests/bench (analogue of
        #: MasterTimer/WorkerTimer default interceptors,
        #: GuaguaConstants.java:86-92)
        self.iteration_seconds: list[float] = []

    # -- checkpointing: analogue of FailOverCommand iteration resume
    #    (AbstractMasterCoordinator.java:194-241) -------------------------
    def _checkpoint_path(self) -> str | None:
        if not self.checkpoint_dir:
            return None
        return os.path.join(self.checkpoint_dir, "master_state.pkl")

    def _save_checkpoint(self, iteration: int, master_result: Any) -> None:
        path = self._checkpoint_path()
        if not path:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump((iteration, master_result), f)
        os.replace(tmp, path)

    def _load_checkpoint(self) -> tuple[int, Any] | None:
        path = self._checkpoint_path()
        if not path or not os.path.exists(path):
            return None
        with open(path, "rb") as f:
            return pickle.load(f)

    def run(
        self,
        master: MasterComputable,
        worker: WorkerComputable,
        df: DataFrame,
        total_iteration: int = DEFAULT_TOTAL_ITERATION,
        interceptors: Sequence[MasterInterceptor] = (),
        worker_interceptors: Sequence[WorkerInterceptor] = (),
        worker_halt_enable: bool = False,
        combine_executor_side: bool | None = None,
        min_workers_ratio: float = 1.0,
        min_workers_timeout: float = 60.0,
        result_bytes_budget: int = DEFAULT_RESULT_BYTES_BUDGET,
    ) -> Any:
        """Iterate to convergence; return the final master result.

        ``worker_halt_enable`` mirrors guagua.worker.halt.enable
        (GuaguaConstants.java:112-117): when True and every worker result
        of an iteration carries ``halt=True``, the loop stops even if the
        master didn't set halt.

        ``min_workers_ratio`` < 1.0 enables the PARTIAL BARRIER
        (SSP-lite straggler tolerance — reference guagua.min.workers.ratio
        / guagua.min.workers.timeout, BasicCoordinator.java:649-662):
        after ``min_workers_timeout`` seconds the master proceeds once
        ``arrived/total >= ratio``, dropping the stragglers' results for
        that iteration. It is a deadline on the gather of every path
        but treeReduce, which it therefore turns off.

        ``result_bytes_budget`` bounds the partials the driver holds in
        memory per iteration, in raw pickled bytes; past it the gather
        spills them to a temp file and ``worker_results`` unpickles one
        at a time (see MasterContext).

        ``df`` is persisted for the run only on the Arrow path and only
        when Spark's cache manager does not hold it already; run()
        unpersists only what it persisted.
        """
        sc = self.spark.sparkContext
        from guagua_spark.shipping import ensure_shipped

        ensure_shipped(sc)
        master_result: Any = None
        start_iteration = 1
        ckpt = self._load_checkpoint()
        if ckpt is not None:
            start_iteration, master_result = ckpt[0] + 1, ckpt[1]
            log.info("resuming from checkpoint at iteration %d", start_iteration)
        # one key over py4j: getConf() would copy the whole conf
        host = sc._conf.get("spark.driver.host")

        def listen() -> _Listener:
            return _Listener(
                host, min_workers_ratio, min_workers_timeout,
                result_bytes_budget,
            )

        # LOAD-ONCE PATHS (reference MemoryDiskList parity — see
        # WorkerComputable.prepare): scan + convert each partition once;
        # every iteration then reuses the converted form instead of
        # re-decoding rows→Arrow→numpy.
        remaining = total_iteration - start_iteration + 1
        prep_rdd = resident = None
        persisted = False
        if type(worker).prepare is WorkerComputable.prepare:
            path, why = "arrow", "the worker does not override prepare"
        else:
            # a split plan fixes the stage width before submit; Spark's
            # own count can differ from the realized stage under AQE
            splits = plan_splits(df)
            if isinstance(splits, str):
                source, splits = f"Spark rows ({splits})", None
                num_partitions = df.rdd.getNumPartitions()
            else:
                source = "parquet splits"
                num_partitions = len(splits.partitions)
            why = _resident_blocker(sc, num_partitions, combine_executor_side)
            if why is None:
                path, why = "resident", (
                    f"{remaining} rounds, {num_partitions} partitions fit "
                    f"the task slots; input: {source}"
                )
                if splits is not None:
                    log.debug("parquet splits: %s", splits.describe())
                resident = _Resident(
                    sc, df, worker, total_iteration, self.props,
                    worker_interceptors, splits, listen(),
                )
            elif remaining < LOAD_ONCE_MIN_ROUNDS:
                path, why = "arrow", (
                    f"{why}; {remaining} rounds < {LOAD_ONCE_MIN_ROUNDS}"
                )
            else:
                path = "blob"
                prep_rdd = _prepared_blobs(df, worker)
                num_partitions = prep_rdd.getNumPartitions()
        if path == "arrow":
            if df.storageLevel == StorageLevel.NONE:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                persisted = True
            num_partitions = df.rdd.getNumPartitions()
        log.info("%s path: %s", path, why)

        mctx = MasterContext(
            current_iteration=0,
            total_iteration=total_iteration,
            worker_results=[],
            master_result=master_result,
            props=self.props,
            num_workers=num_partitions,
        )
        master.init(mctx)
        # optional model init before the first worker pass — replaces the
        # reference's burned first iteration where workers return empty
        # results so the master can initialize weights
        # (lr/LogisticRegressionMaster.java init path)
        if master_result is None:
            initial = getattr(master, "initial_result", None)
            if callable(initial):
                master_result = initial(mctx)
                mctx.master_result = master_result
        for icpt in interceptors:
            icpt.pre_application(mctx)

        bc = listener = None
        described = False
        try:
            for iteration in range(start_iteration, total_iteration + 1):
                t0 = time.monotonic()
                mctx.current_iteration = iteration
                for icpt in interceptors:
                    icpt.pre_iteration(mctx)

                prev_bc = bc
                payload = pickle.dumps(
                    master_result, protocol=pickle.HIGHEST_PROTOCOL
                )
                got = None
                if resident is not None:
                    try:
                        got = resident.superstep(iteration, payload)
                        # the stage as Spark realized it (see _Listener)
                        num_partitions = resident.listener.tasks
                    except _ResidentLost as lost:
                        # hooks of this iteration may have run on some
                        # tasks already; they run again on the blob path
                        # (at-least-once, as under any task retry)
                        log.warning(
                            "resident job lost at iteration %d (%s); "
                            "finishing the run on the blob path",
                            iteration, lost,
                        )
                        resident.close(cancel=True)
                        resident = None
                        prep_rdd = _prepared_blobs(df, worker)
                        num_partitions = prep_rdd.getNumPartitions()
                    mctx.num_workers = num_partitions
                if resident is None:
                    # progress reporting — analogue of Progressable →
                    # context.setStatus (mapreduce/GuaguaMapper.java:
                    # 133-175), on the iterations that launch a job: a
                    # resident superstep makes no py4j call at all
                    sc.setJobDescription(
                        f"guagua iteration {iteration}/{total_iteration}"
                    )
                    described = True
                    if len(payload) <= INLINE_MODEL_BYTES:
                        bc = _ModelRef(payload=payload)
                    else:
                        bc = _ModelRef(bc=sc.broadcast(payload))
                    combine = combine_executor_side
                    if combine is None:
                        combine = num_partitions > 32
                    tree = combine and min_workers_ratio >= 1.0
                    if not tree and listener is None:
                        listener = listen()
                    task = _Task(
                        worker, iteration, total_iteration, self.props, bc,
                        worker_interceptors,
                        None if tree else (listener.addr, listener.token),
                    )
                    if prep_rdd is not None:
                        out = prep_rdd.mapPartitions(
                            _make_prepared_iter_fn(task)
                        )
                    else:
                        out = df.mapInArrow(
                            _make_worker_fn(task), "result binary"
                        )
                    if tree:
                        if prep_rdd is None:
                            out = out.rdd.map(lambda row: row.result)
                        reduced = out.map(_unwrap_partial).treeReduce(
                            _combine_or_list, depth=2
                        )
                        results = _flatten_partial(reduced)
                        all_halt = reduced.all_halt and reduced.n > 0
                        mctx.arrived_workers = num_partitions
                    else:
                        got = listener.gather_job(
                            sc, out.collect, iteration, num_partitions
                        )
                if got is not None:
                    results = got.results()
                    all_halt = got.all_halt()
                    mctx.arrived_workers = len(got)

                mctx.worker_results = results
                mctx.all_workers_halted = worker_halt_enable and all_halt
                master_result = master.compute(mctx)
                if mctx.all_workers_halted:
                    _force_halt(master_result)
                mctx.master_result = master_result

                for icpt in reversed(interceptors):
                    icpt.post_iteration(mctx)
                if prev_bc is not None:
                    prev_bc.destroy()
                if (
                    self.checkpoint_interval
                    and iteration % self.checkpoint_interval == 0
                ):
                    self._save_checkpoint(iteration, master_result)
                self.iteration_seconds.append(time.monotonic() - t0)

                if is_halt(master_result):
                    log.info("halt signalled at iteration %d", iteration)
                    break
        finally:
            if resident is not None:
                resident.close()
            if listener is not None:
                listener.close()
            for icpt in reversed(interceptors):
                icpt.post_application(mctx)
            if bc is not None:
                bc.destroy()
            if persisted:
                df.unpersist()
            if prep_rdd is not None:
                prep_rdd.unpersist()
            if described:
                sc.setJobDescription(None)
        return master_result


def _unwrap_partial(raw: bytes) -> _Partial:
    result, halt = pickle.loads(bytes(raw))
    return _Partial(result, halt)


class _Acc(list):
    """Private accumulator for non-Combinable results inside treeReduce.

    A distinct type (not a bare ``list``) so a user worker result that is
    itself a Python list round-trips intact instead of being flattened
    into the engine's internal merge."""


def _combine_or_list(a: _Partial, b: _Partial) -> _Partial:
    """treeReduce op: combine user results if Combinable, else accumulate
    an _Acc (still bounds driver traffic to one task's worth per tree leaf)."""
    ar, br = a.result, b.result
    if isinstance(ar, _Acc) or isinstance(br, _Acc):
        merged: Any = _Acc(
            (ar if isinstance(ar, _Acc) else [ar])
            + (br if isinstance(br, _Acc) else [br])
        )
    elif isinstance(ar, Combinable) and isinstance(br, Combinable):
        merged = ar.combine(br)
    else:
        merged = _Acc([ar, br])
    return _Partial(merged, a.all_halt and b.all_halt, a.n + b.n)


def _flatten_partial(p: _Partial) -> list[Any]:
    if isinstance(p.result, _Acc):
        return list(p.result)
    return [p.result]


def _force_halt(result: Any) -> None:
    try:
        result.halt = True
    except AttributeError:
        pass
