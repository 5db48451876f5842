"""The iterative BSP engine: driver = master, executors = workers.

    prepare/persist input → loop:
        ship(master_result)                     # socket | inline | broadcast
        per-partition fold                      # resident | blob | Arrow
        treeReduce(combine) | collect           # AllReduce up
        master.compute(worker_results)          # model update, driver-side
        halt? → break
    stop the resident tasks / unpersist

Per-iteration latency model (measured on 4 cores, local[4], pyspark
4.1.2, Python 3.11): a Spark job of trivial Python tasks costs ~0.1 s
with one task, ~0.15 s with 4 and ~0.3 s with 16, while a superstep
over a socket to tasks that are already running costs well under a
millisecond. Most of a job's cost is per task, not scheduling. At the
start of every task PySpark re-reads pyspark's zip archives, ~0.25 s,
unless shipping.install_zip_check is in place (importing guagua_spark
installs it); without it the same jobs cost ~0.2, ~0.35 and ~1.0 s.
And PySpark reuses a Python worker only for tasks that read their
whole input, so every engine task does (see _drain); a task that stops
early makes the next one fork a fresh worker. A resident run's first
iteration is its one job's launch plus the slowest task's input and
``prepare``. On perfbench's lr_long (4 tasks of 75k rows x 21
doubles) a task enters 70-100 ms after run() starts; its input plus
``prepare`` then takes ~0.2 s when the JVM streams it the cached rows
as Arrow batches, and ~0.07 s when it reads the same rows from its own
parquet file, so the first iteration is ~0.30 s over the rows and
~0.12 s over parquet splits. After it, a resident superstep is the
slowest worker's compute: numpy, at the speed of the BLAS kernel the
worker's OpenBLAS loaded. get_spark picks that kernel for local
sessions (session._openblas_coretype says why); a cluster sets
``spark.executorEnv.OPENBLAS_CORETYPE`` at deploy time. One nn_backprop
worker (25k rows, [20,64,32,1], one thread) takes ~95 ms a superstep on
OpenBLAS's SSE3 ``Prescott`` fallback and ~43 ms on ``SkylakeX``: ~19 ms
of matmuls, ~11 ms of sigmoid and ~12 ms of other elementwise products
and sums. The engine reaches the workers one of three ways and logs its
choice, with the reason, once per run at INFO:

- resident: ONE gang-scheduled (barrier) Spark job per run. Each task
  prepares its partition once, keeps it in memory and connects back to
  a per-run listener on the driver; every superstep is a socket frame
  down (the master result) and one up (the partial). Taken by a worker
  that overrides ``prepare``, for ≥ LOAD_ONCE_MIN_ROUNDS rounds, with
  the full barrier, no executor-side combine, ≤ 32 partitions, no more
  partitions than the scheduler has task slots, and no dynamic
  allocation (Spark rejects barrier stages under it). Its input: when
  ``df`` is a bare parquet scan of whole local files (at most a
  projection of its columns, cached or not), the job is a barrier RDD
  over Spark's own file partitions and each task reads its files with
  pyarrow (sources/splits.py), so the stage width is the split plan's,
  fixed before submit; otherwise it is a barrier mapInArrow job over
  ``df``'s rows, and the INFO line names the reason. If the job dies
  (a task also fails it on a file whose size or mtime changed since
  planning), the run finishes on the blob path over ``df`` from the
  failed iteration. The tasks hold their slots until run() returns: a
  Spark job that a master or master interceptor waits on mid-run gets
  only the other slots, and none when the partitions fill the cluster,
  so it would never finish.
- blob: the other long prepared runs. Each partition's prepared object
  is persisted as one pickled blob; each iteration is one job over them.
- Arrow: workers without ``prepare``, and short runs. Each iteration is
  one job that re-reads the persisted rows as Arrow batches.

This single loop replaces the reference's entire coordination layer
(~4,000 LoC of ZooKeeper/Netty master-worker barriers — SURVEY.md §2.6):
GuaguaMasterService.run's iteration loop (master/GuaguaMasterService.java:
185-293), the worker mirror loop (worker/GuaguaWorkerService.java:209-341),
znode publish/poll broadcast (master/AbstractMasterCoordinator.java:58-113),
and the Netty result transport (master/NettyMasterCoordinator.java), which
the resident path brings back as a plain socket; Spark still does
placement, gang scheduling and failure detection.

Scale notes (100 TB / 1000 executors):
- Input is read once before the loop — the analogue of the reference's
  load-once worker cache (worker/AbstractWorkerComputable.java: 66-104,
  util/MemoryDiskList.java): resident tasks hold their prepared partition
  in memory; the other paths persist MEMORY_AND_DISK, so re-reads hit
  the block manager and partitions that don't fit in memory spill
  instead of recomputing.
- Worker→master traffic is one small result per partition. With a
  Combinable result the engine pre-merges executor-side via treeReduce
  (depth 2), so the driver sees O(sqrt(P)) results, not O(P) — the
  analogue of the reference's merge-on-arrival combiner
  (master/NettyMasterCoordinator.java:160-200) without its disk-spill
  machinery (BytableMemoryDiskList), which distributed reduction makes
  unnecessary.
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
import socket
import struct
import tempfile
import time
import uuid
from typing import Any, Callable, Iterator, NamedTuple, Sequence

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

#: minimum (remaining) iterations before a worker's ``prepare`` is used:
#: shorter runs stay on the Arrow path, where the prepared paths' fixed
#: costs (a prepare pass; for the blob path also a persisted copy) did
#: not pay for themselves in earlier measurements. Whether the resident
#: path should also take short runs is open until measured.
LOAD_ONCE_MIN_ROUNDS = 8


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
    """Internal wrapper combined executor-side: carries the user result,
    the AND of worker halt votes, and the partition count."""

    __slots__ = ("result", "all_halt", "n")

    def __init__(self, result: Any, all_halt: bool, n: int = 1) -> None:
        self.result = result
        self.all_halt = all_halt
        self.n = n


class _Task(NamedTuple):
    """What one iteration's worker task needs besides its partition data.
    The worker object, props and interceptors are serialized into the
    task closure; the (potentially large) master result rides the
    _ModelRef."""

    worker: WorkerComputable
    iteration: int
    total_iteration: int
    props: dict[str, Any]
    model: _ModelRef
    interceptors: Sequence[WorkerInterceptor]


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
) -> bytes:
    """The one worker-task body every path runs; paths differ only in
    how ``compute`` obtains the partition data. Hook order is the
    reference's call-stack contract (worker/WorkerInterceptor.java:33-38):
    [iter 1: pre_application FIFO] → pre_iteration FIFO → init/compute →
    post_iteration FILO → [iter N: post_application FILO]. Returns the
    pickled (result, halt vote)."""
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
    halt = bool(getattr(result, "halt", False))
    return pickle.dumps((result, halt), protocol=pickle.HIGHEST_PROTOCOL)


def _make_worker_fn(
    task: _Task,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """mapInArrow task over the persisted rows: the worker folds the
    partition's Arrow batches."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        payload = _run_task(
            task,
            _partition_id(),
            lambda ctx: task.worker.compute(ctx, batches),
        )
        _drain(batches)
        yield pa.RecordBatch.from_pydict({"result": [payload]})

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
        yield _run_task(
            task,
            _partition_id(),
            lambda ctx: task.worker.compute_prepared(ctx, pickle.loads(blob)),
        )

    return fn


def _prepared_blobs(df: DataFrame, worker: WorkerComputable, level):
    """The blob path's input: one persisted pickled prepare() output per
    partition. Take the run's partition count from this RDD: under AQE a
    shuffle-rooted ``df`` can re-plan with a different partition count
    on every ``.rdd`` call (observed: a groupBy-rooted vocabulary flips
    between 1 and 8)."""
    return (
        df.mapInArrow(_make_prepare_fn(worker), "blob binary")
        .rdd.map(lambda row: bytes(row.blob))
        .persist(level)
    )


# -- resident path ---------------------------------------------------------
# Wire format, all big-endian. Driver → task: _DOWN (iteration, payload
# length) + the pickled master result; iteration 0 tells the task to
# stop. Task → driver: first the raw run token + _HELLO (partition id,
# tasks in the stage), then per superstep _UP (length) + the pickled
# (result, halt vote) of _run_task.
_DOWN = struct.Struct("!qQ")
_HELLO = struct.Struct("!qq")
_UP = struct.Struct("!Q")
_STOP = _DOWN.pack(0, 0)
_TOKEN_BYTES = 32
#: driver-side socket poll: how often a wait re-checks that the job lives
_POLL_S = 0.1
#: how long a new connection may take to send its token and hello
_HELLO_TIMEOUT_S = 10.0


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
            out = _run_task(task, pid, compute)
            sock.sendall(_UP.pack(len(out)) + out)


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


class _Listener:
    """The per-run socket resident tasks connect back to, bound to the
    driver's host. A connection's first bytes must be the run's raw
    token; any other connection is closed unread, so nothing a stranger
    sends is ever unpickled. The first hello fixes the run's task count
    (the stage as Spark realized it: over ``df``'s rows under AQE it can
    differ from an earlier ``getNumPartitions()``; over parquet splits
    it is the plan's); every other hello must agree."""

    def __init__(self, host: str) -> None:
        self.token = secrets.token_bytes(_TOKEN_BYTES)
        self.tasks: int | None = None
        self.conns: dict[int, socket.socket] = {}
        self.sock = socket.create_server((host, 0))
        self.sock.settimeout(_POLL_S)
        self.addr = self.sock.getsockname()[:2]

    def accept(self, check: Callable[[], None]) -> None:
        """Accept until every task of the stage said hello; ``check``
        raises _ResidentLost once the job is gone."""
        while self.tasks is None or len(self.conns) < self.tasks:
            check()
            try:
                conn, _ = self.sock.accept()
            except TimeoutError:
                continue
            conn.settimeout(_POLL_S)
            pid = None
            try:
                pid = self._hello(conn, check)
            except (OSError, EOFError):  # timed out or hung up mid-hello
                pass
            finally:
                if pid is None:
                    conn.close()
            if pid is not None:
                self.conns[pid] = conn

    def _hello(self, conn: socket.socket, check: Callable[[], None]):
        deadline = time.monotonic() + _HELLO_TIMEOUT_S

        def waiting() -> None:
            check()
            if time.monotonic() > deadline:
                raise TimeoutError("no hello")

        token = bytes(_recv_exact(conn, _TOKEN_BYTES, waiting))
        if not hmac.compare_digest(token, self.token):
            log.warning(
                "resident listener: closed a connection with a wrong token"
            )
            return None
        pid, tasks = _HELLO.unpack(_recv_exact(conn, _HELLO.size, waiting))
        if self.tasks is None:
            self.tasks = tasks
        if tasks != self.tasks or pid in self.conns or not 0 <= pid < tasks:
            raise _ResidentLost(
                ValueError(f"hello from task {pid} of {tasks} after "
                           f"{sorted(self.conns)} of {self.tasks}")
            )
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return pid

    def close(self) -> None:
        for conn in self.conns.values():
            conn.close()
        self.sock.close()


class _Resident:
    """Driver end of a resident run. The barrier job starts at the first
    superstep, from an InheritableThread so it keeps the caller's job
    group and scheduler pool, under a per-run job tag that cancels it
    without touching the caller's group."""

    def __init__(
        self,
        sc,
        df: DataFrame,
        worker: WorkerComputable,
        total_iteration: int,
        props: dict[str, Any],
        interceptors: Sequence[WorkerInterceptor],
        splits: SplitPlan | None,
    ) -> None:
        self.sc = sc
        self.args = (df, worker, total_iteration, props, interceptors)
        self.splits = splits
        self.tag = f"guagua-resident-{uuid.uuid4().hex[:12]}"
        self.listener: _Listener | None = None
        self.thread: InheritableThread | None = None
        self.error: BaseException | None = None

    def _start(self) -> None:
        df, worker, total_iteration, props, interceptors = self.args
        # one key over py4j: getConf() would copy the whole conf
        self.listener = _Listener(self.sc._conf.get("spark.driver.host"))
        fn = _make_resident_fn(
            worker, total_iteration, props, interceptors,
            self.listener.addr, self.listener.token, self.splits,
        )
        if self.splits is None:
            job = df.mapInArrow(fn, "done boolean", barrier=True)
        else:
            n = len(self.splits.partitions)
            job = self.sc.parallelize(range(n), n).barrier().mapPartitions(fn)

        def run_job() -> None:
            try:
                self.sc.addJobTag(self.tag)
                self.sc.setJobDescription("guagua resident run")
                job.collect()
            except Exception as exc:  # noqa: BLE001 — raised by _check
                self.error = exc

        self.thread = InheritableThread(target=run_job, daemon=True)
        self.thread.start()
        self.listener.accept(self._check)

    def _check(self) -> None:
        if not self.thread.is_alive():
            raise _ResidentLost(
                self.error or EOFError("the resident job ended")
            )

    def superstep(self, iteration: int, payload: bytes) -> list[bytearray]:
        """Send the master result to every task; return the pickled
        partials in partition order."""
        try:
            if self.thread is None:
                self._start()
            conns = [self.listener.conns[p] for p in sorted(self.listener.conns)]
            frame = _DOWN.pack(iteration, len(payload)) + payload
            for conn in conns:
                _send_all(conn, frame, self._check)
            out = []
            for conn in conns:
                (size,) = _UP.unpack(_recv_exact(conn, _UP.size, self._check))
                out.append(_recv_exact(conn, size, self._check))
            return out
        except (OSError, EOFError) as exc:
            raise _ResidentLost(exc) from exc

    def close(self, cancel: bool = False) -> None:
        """Release the run's task slots: send every task the stop frame,
        or cancel the job when asked to or when some task cannot be
        told; then join the job thread, which also lands the tasks'
        accumulator updates on the driver."""
        if self.thread is None:
            if self.listener is not None:
                self.listener.close()
            return
        told = 0
        if not cancel:
            for conn in self.listener.conns.values():
                try:
                    _send_all(conn, _STOP, self._check)
                    told += 1
                except (OSError, _ResidentLost):
                    pass
        self.listener.close()
        if told != self.listener.tasks:  # None: no task ever said hello
            # repeat: a job that was not yet submitted at the first cancel
            # is caught by the next
            while self.thread.is_alive():
                self.sc.cancelJobsWithTag(self.tag)
                self.thread.join(_POLL_S * 10)
        self.thread.join()


def _task_slots(sc) -> int:
    """How many tasks the scheduler can run at once under the default
    resource profile; a barrier stage needs one slot per task."""
    jsc = sc._jsc.sc()
    return jsc.maxNumConcurrentTasks(
        jsc.resourceProfileManager().defaultResourceProfile()
    )


def _resident_blocker(
    sc,
    num_partitions: int,
    min_workers_ratio: float,
    combine_executor_side: bool | None,
) -> str | None:
    """Why a long prepared run cannot take the resident path, or None
    when it can. The slot check runs before any job is submitted: a
    barrier stage wider than the cluster is retried by Spark's slot
    check for minutes before it fails."""
    if num_partitions == 0:
        return "no partitions"
    if min_workers_ratio < 1.0:
        return "partial barrier"
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


#: non-combinable master path: above this estimated total result size
#: (first partition's pickled bytes × partitions, probed once per run)
#: the driver streams partials through toLocalIterator instead of
#: collecting all P at once — the reference's lazy master-side
#: consumption with disk spill (AbstractMasterCoordinator.java:243-310,
#: NettyMasterCoordinator.java:252-268). Below it, the direct collect
#: stays (one job per iteration; streaming costs one job per PARTITION
#: per iteration, only worth it when the collect would blow the driver).
DEFAULT_RESULT_BYTES_BUDGET = 256 * 1024 * 1024


class _LazyWorkerResults:
    """Lazy, RE-ITERABLE iterable of worker results for the
    non-combinable master path above the result-size budget: the master
    consumes partials one at a time while the driver holds O(one
    partition) of results in MEMORY — the reference's streamed-master
    semantics. The reference's worker-results iterable is re-iterable
    (AbstractMasterCoordinator.java hasNext resets the iterator so
    masters can make two passes over the disk-spilled results); round
    10 restored that contract here: every result drained from the
    cluster is teed to a driver-local DISK spill (the MemoryDiskList
    role, BytableMemoryDiskList.java), and a second ``iter()`` replays
    the spilled prefix from disk before continuing the live stream —
    so a master that double-iterates, ``len()``s after a full pass, or
    abandons a pass and restarts behaves identically at any scale, at
    disk-IO cost instead of a crash.

    Halt votes fold as the stream is consumed; they are definitive only
    when SOME pass drained the whole stream (a master that always stops
    early leaves the remaining votes unknown — treated as
    not-all-halted). Lazy semantics to know: partitions COMPUTE as the
    stream is first consumed (toLocalIterator runs one job per
    partition on demand), so a master that never touches part of the
    stream skips those partitions' worker compute for that round —
    harmless for the stateless-task model (no cross-round worker state
    exists), but worker-interceptor side effects on never-reached
    partitions are skipped with it."""

    __slots__ = (
        "_iter",
        "_spill",
        "_offsets",
        "_exhausted",
        "all_halt",
        "count",
    )

    def __init__(self, partials) -> None:
        self._iter = iter(partials)
        self._spill = tempfile.TemporaryFile(prefix="guagua_results_")
        self._offsets: list[tuple[int, int]] = []
        self._exhausted = False
        self.all_halt = True
        self.count = 0

    def _pull_next(self):
        """Drain one partial from the live stream, tee it to the disk
        spill, return its result. Raises StopIteration at end."""
        p = next(self._iter)
        self.all_halt = self.all_halt and p.all_halt
        self.count += 1
        b = pickle.dumps(p.result, protocol=pickle.HIGHEST_PROTOCOL)
        self._spill.seek(0, os.SEEK_END)
        off = self._spill.tell()
        self._spill.write(b)
        self._offsets.append((off, len(b)))
        return p.result

    def _read_spilled(self, i: int):
        off, ln = self._offsets[i]
        self._spill.seek(off)
        return pickle.loads(self._spill.read(ln))

    def __iter__(self):
        i = 0
        while True:
            if i < len(self._offsets):
                # replay what an earlier (or this) pass already drained
                yield self._read_spilled(i)
                i += 1
            elif self._exhausted:
                return
            else:
                try:
                    r = self._pull_next()
                except StopIteration:
                    self._exhausted = True
                    continue
                i += 1
                yield r

    def __len__(self) -> int:
        """Defined only once the stream has been fully drained (any
        complete pass) — before that the answer would force a full
        drain as a hidden side effect, so it raises instead."""
        if not self._exhausted:
            raise TypeError(
                "len(worker_results) before a full pass in lazy mode; "
                "iterate (or list(...)) first"
            )
        return self.count


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

    def _collect_partial_barrier(
        self,
        partials,
        num_partitions: int,
        ratio: float,
        timeout_s: float,
        iteration: int,
    ) -> list[_Partial]:
        """Emulate guagua's partial barrier: a BOUNDED number of Spark
        jobs (≤ pool width, 64), driver-side gather with a deadline,
        cancel the straggler job groups.

        Reference semantics (BasicCoordinator.isTerminated,
        BasicCoordinator.java:649-662): proceed when all workers reported,
        OR the timeout elapsed AND arrived/total >= ratio. Dropped
        workers' results simply don't contribute this iteration — the
        master must tolerate a shorter result list (it already must, since
        results are unordered and possibly pre-combined).

        Partitions are batched round-robin into ≤64 job groups so the
        per-iteration scheduling cost is O(pool width), not
        O(num partitions): at the reference's own scale (thousands of
        workers, GuaguaMapReduceClient.java split planning) one job per
        partition would push thousands of jobs through the scheduler
        every iteration. The tradeoff is cancellation granularity — a
        straggler drops its whole batch (≈ num_partitions/64 workers)
        for the iteration, still within the reference's semantics where
        any subset ≥ ratio may proceed. The arrived/total ratio is
        accounted in PARTITIONS, not batches.
        """
        from concurrent.futures import ThreadPoolExecutor

        sc = self.spark.sparkContext

        pool_width = min(num_partitions, 64)
        batches: list[list[int]] = [[] for _ in range(pool_width)]
        for p in range(num_partitions):
            batches[p % pool_width].append(p)

        def run_batch(b: int) -> list[_Partial]:
            group = f"guagua-barrier-it{iteration}-b{b}"
            sc.setJobGroup(group, f"iteration {iteration} batch {b}",
                           interruptOnCancel=True)
            return sc.runJob(partials, lambda it: list(it), batches[b])

        arrived: list[_Partial] = []
        arrived_parts = 0
        with ThreadPoolExecutor(max_workers=pool_width) as ex:
            futures = {ex.submit(run_batch, b): b for b in range(pool_width)}
            deadline = time.monotonic() + timeout_s
            pending = dict(futures)
            while pending:
                for f in [f for f in pending if f.done()]:
                    b = pending.pop(f)
                    try:
                        arrived.extend(f.result())
                        arrived_parts += len(batches[b])
                    except Exception:  # cancelled or failed batch
                        log.warning(
                            "batch %d (%d partitions) dropped this "
                            "iteration", b, len(batches[b]),
                        )
                if not pending:
                    break
                if (
                    time.monotonic() >= deadline
                    and arrived_parts / num_partitions >= ratio
                ):
                    for f, b in pending.items():
                        sc.cancelJobGroup(f"guagua-barrier-it{iteration}-b{b}")
                    # cancelled jobs error out their futures promptly; the
                    # executor shutdown below reaps the threads
                    for f, b in pending.items():
                        try:
                            arrived.extend(f.result(timeout=10))
                            arrived_parts += len(batches[b])
                        except Exception:
                            log.info(
                                "straggler batch %d cancelled at "
                                "iteration %d", b, iteration,
                            )
                    pending.clear()
                else:
                    time.sleep(0.02)
        return arrived

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
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
        persist: bool = True,
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
        that iteration. Spark stages are all-or-nothing, so this path
        emulates the barrier by batching partitions round-robin into at
        most 64 job groups run from driver threads and cancelling
        unfinished groups at the deadline — bounded scheduling overhead
        (≤64 jobs/iteration at any partition count), but a cancelled
        straggler drops its whole batch (≈ partitions/64 workers). The
        extra scheduling cost keeps it opt-in; the default paths run one
        job per iteration, or one job per run on the resident path (see
        the module docstring), which the partial barrier never takes.

        ``result_bytes_budget`` bounds DRIVER memory on the
        non-combinable path: partition 0's pickled result size is
        probed once per run (one extra partition compute); when
        size×partitions exceeds the budget, every iteration streams
        partials through ``toLocalIterator`` into a one-shot lazy
        ``worker_results`` instead of collecting all P at once — the
        reference's lazy master-side consumption
        (AbstractMasterCoordinator.java:243-310).
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

        # LOAD-ONCE PATHS (reference MemoryDiskList parity — see
        # WorkerComputable.prepare): scan + convert each partition once;
        # every iteration then reuses the converted form instead of
        # re-decoding rows→Arrow→numpy. Short runs stay on the Arrow
        # path (see LOAD_ONCE_MIN_ROUNDS).
        remaining = total_iteration - start_iteration + 1
        prep_rdd = None
        resident = None
        if type(worker).prepare is WorkerComputable.prepare:
            path, why = "arrow", "the worker does not override prepare"
        elif remaining < LOAD_ONCE_MIN_ROUNDS:
            path, why = "arrow", (
                f"{remaining} rounds < {LOAD_ONCE_MIN_ROUNDS}"
            )
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
            why = _resident_blocker(
                sc, num_partitions, min_workers_ratio, combine_executor_side
            )
            if why is None:
                path, why = "resident", (
                    f"{remaining} rounds, {num_partitions} partitions fit "
                    f"the task slots; input: {source}"
                )
                if splits is not None:
                    log.debug("parquet splits: %s", splits.describe())
                resident = _Resident(
                    sc, df, worker, total_iteration, self.props,
                    worker_interceptors, splits,
                )
            else:
                path = "blob"
                prep_rdd = _prepared_blobs(df, worker, storage_level)
                num_partitions = prep_rdd.getNumPartitions()
            persist = False  # raw df no longer re-read after prepare
        if path == "arrow":
            if persist:
                df = df.persist(storage_level)
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

        bc = None
        lazy_mode: bool | None = None  # decided once, first iteration
        try:
            for iteration in range(start_iteration, total_iteration + 1):
                t0 = time.monotonic()
                mctx.current_iteration = iteration
                for icpt in interceptors:
                    icpt.pre_iteration(mctx)

                # progress reporting — analogue of Progressable →
                # context.setStatus (mapreduce/GuaguaMapper.java:133-175)
                sc.setJobDescription(
                    f"guagua iteration {iteration}/{total_iteration}"
                )

                prev_bc = bc
                payload = pickle.dumps(
                    master_result, protocol=pickle.HIGHEST_PROTOCOL
                )
                from_resident = None
                if resident is not None:
                    try:
                        from_resident = [
                            _unwrap_partial(b)
                            for b in resident.superstep(iteration, payload)
                        ]
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
                        prep_rdd = _prepared_blobs(df, worker, storage_level)
                        num_partitions = prep_rdd.getNumPartitions()
                        mctx.num_workers = num_partitions
                if from_resident is None:
                    if len(payload) <= INLINE_MODEL_BYTES:
                        bc = _ModelRef(payload=payload)
                    else:
                        bc = _ModelRef(bc=sc.broadcast(payload))
                    task = _Task(
                        worker, iteration, total_iteration, self.props, bc,
                        worker_interceptors,
                    )
                    if prep_rdd is not None:
                        out_rdd = prep_rdd.mapPartitions(
                            _make_prepared_iter_fn(task)
                        )
                        partials_rdd = out_rdd.map(_unwrap_partial)
                    else:
                        out = df.mapInArrow(
                            _make_worker_fn(task), "result binary"
                        )
                        out_rdd = None
                        partials_rdd = None

                combinable = combine_executor_side
                if combinable is None:
                    combinable = num_partitions > 32
                results: list[Any]
                if from_resident is not None:
                    results = [p.result for p in from_resident]
                    all_halt = bool(from_resident) and all(
                        p.all_halt for p in from_resident
                    )
                    # the stage as Spark realized it (see _Listener)
                    num_partitions = mctx.num_workers = len(from_resident)
                    mctx.arrived_workers = num_partitions
                elif min_workers_ratio < 1.0:
                    if partials_rdd is None:
                        partials_rdd = out.rdd.map(
                            lambda row: _unwrap_partial(row.result)
                        )
                    collected = self._collect_partial_barrier(
                        partials_rdd,
                        num_partitions,
                        min_workers_ratio,
                        min_workers_timeout,
                        iteration,
                    )
                    results = [p.result for p in collected]
                    all_halt = bool(collected) and all(
                        p.all_halt for p in collected
                    )
                    mctx.arrived_workers = len(collected)
                elif combinable:
                    # probe combinability lazily: only tree-reduce when the
                    # user result actually implements combine()
                    if partials_rdd is None:
                        partials_rdd = out.rdd.map(
                            lambda row: _unwrap_partial(row.result)
                        )
                    reduced = partials_rdd.treeReduce(
                        lambda a, b: _combine_or_list(a, b), depth=2
                    )
                    results = _flatten_partial(reduced)
                    all_halt = reduced.all_halt and reduced.n > 0
                    mctx.arrived_workers = num_partitions
                else:
                    # direct collect, driver-side unpickle: skips the
                    # df.rdd conversion's extra serializer stage —
                    # measured ~25% lower per-iteration latency, which
                    # compounds over a 50-round training loop
                    raw_rdd = (
                        out_rdd
                        if prep_rdd is not None
                        else out.rdd.map(
                            lambda row: bytes(row.result)
                        )
                    )
                    if lazy_mode is None and num_partitions == 0:
                        lazy_mode = False  # nothing to probe
                    if lazy_mode is None:
                        # one-time probe: MAX pickled-RESULT size
                        # over K spread sample partitions (first /
                        # middle / last) sizes the full collect —
                        # max-of-K so a skewed (tiny or huge) first
                        # partition cannot misclassify the whole
                        # run (round-9 advice: the old partition-0
                        # probe did exactly that). Fetching the
                        # bytes (not just a length) makes the probe
                        # these partitions' one and only execution
                        # this iteration — no duplicated worker
                        # side effects — and the rest of iteration
                        # 1 runs over the unprobed partitions.
                        # Later iterations skip the probe entirely.
                        probe_pids = sorted(
                            {
                                0,
                                num_partitions // 2,
                                num_partitions - 1,
                            }
                        )
                        probe_raw = sc.runJob(
                            raw_rdd,
                            lambda it: [list(it)],
                            probe_pids,
                        )
                        probed_chunks = dict(
                            zip(probe_pids, probe_raw)
                        )
                        max_bytes = max(
                            sum(len(b) for b in chunk)
                            for chunk in probe_raw
                        )
                        lazy_mode = (
                            max_bytes * num_partitions
                            > result_bytes_budget
                        )
                        if lazy_mode:
                            log.info(
                                "non-combinable results estimated at"
                                " %d bytes (> budget %d): streaming"
                                " partials via toLocalIterator",
                                max_bytes * num_partitions,
                                result_bytes_budget,
                            )
                        rest = [
                            p
                            for p in range(num_partitions)
                            if p not in probed_chunks
                        ]
                        if lazy_mode:
                            # walk pids IN ORDER, serving probed
                            # partitions from the driver cache —
                            # the stream order matches the eager
                            # path's partition order exactly

                            def _first_iter_partials(
                                cached=probed_chunks,
                                n=num_partitions,
                                rdd=raw_rdd,
                            ):
                                for pid in range(n):
                                    chunk = cached.pop(pid, None)
                                    if chunk is None:
                                        (chunk,) = sc.runJob(
                                            rdd,
                                            lambda it: [list(it)],
                                            [pid],
                                        )
                                    for b in chunk:
                                        yield _unwrap_partial(b)

                            results = _LazyWorkerResults(
                                _first_iter_partials()
                            )
                            all_halt = False
                        else:
                            if rest:
                                for pid, chunk in zip(
                                    rest,
                                    sc.runJob(
                                        raw_rdd,
                                        lambda it: [list(it)],
                                        rest,
                                    ),
                                ):
                                    probed_chunks[pid] = chunk
                            raws = [
                                b
                                for pid in range(num_partitions)
                                for b in probed_chunks[pid]
                            ]
                            collected = [
                                _unwrap_partial(b) for b in raws
                            ]
                            results = [p.result for p in collected]
                            all_halt = bool(collected) and all(
                                p.all_halt for p in collected
                            )
                        mctx.arrived_workers = num_partitions
                    elif lazy_mode:
                        results = _LazyWorkerResults(
                            _unwrap_partial(b)
                            for b in raw_rdd.toLocalIterator(
                                prefetchPartitions=True
                            )
                        )
                        # halt votes fold as the master drains the
                        # stream — evaluated post-compute below
                        all_halt = False
                        mctx.arrived_workers = num_partitions
                    else:
                        # steady-state eager path: DataFrame-level
                        # collect (skips the df.rdd conversion's
                        # extra serializer stage — the ~25% noted
                        # above); raw_rdd is only ever EXECUTED by
                        # the probe and lazy paths
                        if prep_rdd is not None:
                            raws = [
                                bytes(b) for b in out_rdd.collect()
                            ]
                        else:
                            raws = [
                                bytes(r.result)
                                for r in out.collect()
                            ]
                        # results can GROW across iterations
                        # (typical of training loops with growing
                        # models) past the iteration-1 probe's
                        # verdict — the growth is observable, and
                        # a persistent breach flips to streaming
                        # from the NEXT iteration (safe now that
                        # _LazyWorkerResults is re-iterable, so the
                        # master-facing contract doesn't change)
                        observed = sum(len(b) for b in raws)
                        if observed > result_bytes_budget:
                            log.warning(
                                "eager-collected worker results"
                                " (%d bytes) exceeded the budget"
                                " (%d) at iteration %d; switching"
                                " to streamed master consumption",
                                observed,
                                result_bytes_budget,
                                iteration,
                            )
                            lazy_mode = True
                        collected = [
                            _unwrap_partial(b) for b in raws
                        ]
                        results = [p.result for p in collected]
                        all_halt = bool(collected) and all(
                            p.all_halt for p in collected
                        )
                        mctx.arrived_workers = num_partitions

                mctx.worker_results = results
                mctx.all_workers_halted = worker_halt_enable and all_halt
                master_result = master.compute(mctx)
                if worker_halt_enable and isinstance(
                    results, _LazyWorkerResults
                ):
                    mctx.all_workers_halted = (
                        results.count == num_partitions
                        and results.count > 0
                        and results.all_halt
                    )
                if worker_halt_enable and mctx.all_workers_halted:
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
            for icpt in reversed(interceptors):
                icpt.post_application(mctx)
            if bc is not None:
                bc.destroy()
            if persist:
                df.unpersist()
            if prep_rdd is not None:
                prep_rdd.unpersist()
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
