"""The iterative BSP engine: driver = master, executors = workers.

    prepare/persist input → loop:
        master result down the run's socket     # one _DOWN frame per task
        per-partition fold                      # resident | blob | Arrow
        partials up the run's socket
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
superstep makes no py4j call (a job's description is set in the
thread that launches it), the job ends with a JVM-side action
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
  that overrides ``prepare``, with no more partitions than the
  scheduler has task slots and no dynamic allocation (Spark rejects
  barrier stages under it). Its input: when ``df`` is a bare parquet
  scan of whole local files (at most a projection of its columns,
  cached or not), the job is a barrier RDD over Spark's own file
  partitions and each task reads its files with pyarrow
  (sources/splits.py), so the stage width is the split plan's, fixed
  before submit; otherwise it is a barrier mapInArrow job over ``df``'s
  rows, and the INFO line names the reason. If the job dies (a task
  also fails it on a file whose size or mtime changed since planning),
  the run finishes on the blob path over ``df`` from the failed
  iteration. The tasks hold their slots until run() returns: a Spark
  job that a master or master interceptor waits on mid-run gets only
  the other slots, and none when the partitions fill the cluster, so
  it would never finish.
- blob: the other prepared runs of ≥ LOAD_ONCE_MIN_ROUNDS rounds. Each
  partition's prepared object is persisted as one pickled blob; each
  iteration is one job over them.
- Arrow: workers without ``prepare``, and the shorter prepared runs the
  resident path cannot take. Each iteration is one job that re-reads
  the persisted rows as Arrow batches.

The socket is the same on every path, with no exception, and every
task runs one loop on it (_serve): it connects, sends the run token and
a hello, then per superstep gets the pickled master result as one _DOWN
frame and sends its pickled partial as one _UP frame (iteration,
length, halt vote), until _STOP. A resident task serves the whole run;
a per-iteration task says hello (tasks = 0) before it computes, is sent
that iteration's _DOWN frame and, once its _UP frame is read, _STOP; a
hello for a partition whose frame already arrived gets _STOP at once.
One gather (_Listener.gather) reads the frames in arrival order with
``selectors``. It hands the master the partials in partition order,
keeps the first complete frame per partition (task retries,
speculation) and drops a frame of an older iteration unpickled. Past
``result_bytes_budget`` of raw frames it spills the rest to a
driver-local temp file (_Partials). Under ``min_workers_ratio`` < 1
the gather is the partial barrier: at ``min_workers_timeout`` it
proceeds once arrived/total ≥ the ratio and cancels the rest of a
per-iteration job by its tag; a resident task that still owes a frame
is sent no superstep until its late frame has been read and dropped,
and run() ends such a job by cancelling it and waiting until its tasks
have ended (_Job.wait_for_tasks). No task returns data to Spark, and
Spark never combines partials: every job ends with a JVM-side action
(_run_to_end).

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
- Worker→master traffic is O(P) frames per iteration into the one
  gather, one per partition, read as they arrive, as the reference's
  Netty master receives them (NettyMasterCoordinator.java:160-200). The
  driver holds at most ``result_bytes_budget`` of them in memory and
  spills the rest to disk, where the master reads them one at a time
  (the reference's BytableMemoryDiskList).
- Master→worker traffic is one _DOWN frame per task per iteration on
  the run's socket, on every path, as each of the reference's workers
  fetches the master result in preIteration: the driver writes the
  pickled model once per task, e.g. ~16 MB an iteration for a 393 KB
  k=512 x 96 model over 40 partitions. A frame is a stream, so the
  reference's 1 MB ZK chunking (GuaguaConstants.java:140-142) and its
  znode GC (AbstractMasterCoordinator.java:92-107) have no analogue.
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
from pyspark import RDD, BarrierTaskContext, InheritableThread, TaskContext
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from guagua_spark.api import (
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

#: a prepared run the resident path cannot take (more partitions than
#: task slots, dynamic allocation) uses the blob path from this many
#: remaining rounds on, the Arrow path below it. Measured on 4 cores,
#: local[4], lr_long's 300k x 20 input cached in 8 partitions, 4
#: interleaved runs each: the blob path's first iteration (its prepare
#: pass and persisted copy) took ~1.07 s against ~0.47 s for an Arrow
#: iteration, its steady iteration ~0.16 s against ~0.46 s, so runs of
#: 2/3/5 rounds took 1.31/1.44/1.69 s on the blob path and
#: 0.95/1.43/2.30 s on the Arrow path: they meet at 3 rounds.
LOAD_ONCE_MIN_ROUNDS = 3

#: partials a run may hold in driver memory, in raw pickled bytes, per
#: iteration; the gather spills the rest to a temp file (_Partials)
DEFAULT_RESULT_BYTES_BUDGET = 256 * 1024 * 1024


class _Task(NamedTuple):
    """What a run's worker tasks carry in their closure: the same for
    every iteration. The partition data is the task's input; the master
    result comes down the run's socket."""

    worker: WorkerComputable
    total_iteration: int
    props: dict[str, Any]
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
# per-iteration task). Then, per superstep, it gets _DOWN (iteration,
# payload length) + the pickled master result and sends _UP
# (iteration, payload length, halt vote) + the pickled worker result,
# until a _DOWN of iteration 0 (_STOP). A per-iteration task gets one
# superstep, or _STOP at once.
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


def _down_frame(iteration: int, result: Any) -> bytes:
    payload = pickle.dumps(result, protocol=pickle.HIGHEST_PROTOCOL)
    return _DOWN.pack(iteration, len(payload)) + payload


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


def _serve(
    task: _Task,
    up: tuple[tuple[str, int], bytes],
    tasks: int,
    compute: Callable[[WorkerContext], Any],
) -> None:
    """The one socket loop of every worker task: connect to the run's
    listener, send the token and a hello, then run one superstep per
    _DOWN frame until _STOP. A resident task (``tasks`` > 0) serves the
    whole run with the same worker and interceptor objects; a
    per-iteration task (``tasks`` = 0) is sent at most one superstep.
    Hook order is the reference's call-stack contract
    (worker/WorkerInterceptor.java:33-38): [iter 1: pre_application
    FIFO] → pre_iteration FIFO → init/compute → post_iteration FILO →
    [iter N: post_application FILO]. Module-level, so task closures
    pickle it by reference."""
    pid = _partition_id()
    worker, total_iteration, props, interceptors = task
    addr, token = up
    with socket.create_connection(addr) as sock:
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        sock.sendall(token + _HELLO.pack(pid, tasks))
        while True:
            iteration, size = _DOWN.unpack(_recv_exact(sock, _DOWN.size))
            if iteration == 0:
                return
            ctx = WorkerContext(
                current_iteration=iteration,
                total_iteration=total_iteration,
                last_master_result=pickle.loads(_recv_exact(sock, size)),
                props=props,
                partition_id=pid,
            )
            if iteration == 1:
                for icpt in interceptors:
                    icpt.pre_application(ctx)
            for icpt in interceptors:
                icpt.pre_iteration(ctx)
            worker.init(ctx)
            result = compute(ctx)
            for icpt in reversed(interceptors):
                icpt.post_iteration(ctx)
            if iteration == total_iteration:
                for icpt in reversed(interceptors):
                    icpt.post_application(ctx)
            sock.sendall(_up_frame(iteration, result))


def _make_task_fn(
    path: str,
    task: _Task,
    listener: _Listener,
    splits: SplitPlan | None = None,
) -> Callable[[Iterator[Any]], Iterator[Any]]:
    """The function of a run's worker tasks, built once per path; it
    yields nothing. The paths differ only in how a task gets its
    partition data:

    - arrow: mapInArrow over the persisted rows; the worker folds the
      partition's Arrow batches.
    - blob: over the persisted prepared blobs, one per partition; the
      data arrives as one pickle.loads (memcpy for numpy) instead of an
      Arrow decode.
    - resident: a barrier task prepares its partition once, from
      ``df``'s rows, or with ``splits`` from its own files after
      draining its one-number input, and keeps it for the whole run.
    """
    up = (listener.addr, listener.token)

    def fn(rows: Iterator[Any]) -> Iterator[Any]:
        tasks = 0
        if path == "arrow":
            compute = lambda ctx: task.worker.compute(ctx, rows)  # noqa: E731
        elif path == "blob":
            (blob,) = rows  # reads the stream to its end; see _drain
            compute = lambda ctx: task.worker.compute_prepared(  # noqa: E731
                ctx, pickle.loads(blob)
            )
        else:
            tasks = len(BarrierTaskContext.get().getTaskInfos())
            batches = rows
            if splits is not None:
                _drain(rows)
                batches = splits.read(_partition_id())
            data = task.worker.prepare(batches)
            _drain(batches)
            compute = lambda ctx: task.worker.compute_prepared(ctx, data)  # noqa: E731
        _serve(task, up, tasks, compute)
        _drain(rows)  # what an Arrow task's worker left unread
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
    caller's job group and scheduler pool, under a job tag of its own
    with interrupt-on-cancel: cancelling it touches no other job of the
    caller's group and stops its Python workers. Its description is set
    in that thread only, so the caller's stays as it was."""

    def __init__(
        self, sc, description: str, action: Callable[[], Any]
    ) -> None:
        self.sc = sc
        self.tag = f"guagua-{uuid.uuid4().hex[:12]}"
        self.error: BaseException | None = None
        self.cancelled = False

        def run() -> None:
            try:
                sc.setJobDescription(description)
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


def _run_to_end(job: DataFrame | RDD) -> None:
    """Run the one stage of ``job`` (a DataFrame or an RDD whose tasks
    yield nothing) with a JVM-side action: collect() would serve the
    empty result back through a new authenticated socket (~10 ms)."""
    if isinstance(job, DataFrame):
        job.write.format("noop").mode("overwrite").save()
    else:
        job._jrdd.count()


class _Listener:
    """The run's socket, bound to the driver's host: the one way down
    for the master result and the one gather of worker partials. A
    connection's first bytes must be the run's raw token; any other
    connection is closed unread and sent nothing, so nothing a stranger
    sends is ever unpickled and no model byte reaches it. On a resident
    run the first hello fixes the run's task count (the stage as Spark
    realized it: over ``df``'s rows under AQE it can differ from an
    earlier ``getNumPartitions()``; over parquet splits it is the
    plan's); every other hello must agree."""

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
        frame: bytes,
        waiting: set[int],
        total: int,
        check: Callable[[], None],
    ) -> _Partials:
        """Read _UP frames in arrival order until every partition in
        ``waiting`` sent this iteration's, or, under the partial barrier
        (reference BasicCoordinator.java:649-662), until the deadline
        once arrived/total ≥ the ratio. A per-iteration task's hello for
        a partition in ``waiting`` is answered with ``frame``, this
        iteration's _DOWN frame, and its _UP frame with _STOP; any other
        hello gets _STOP at once. ``check`` runs whenever the sockets
        are quiet and raises once waiting is pointless."""
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
                conn, pid = key.fileobj, key.data
                if pid is None:  # the listening socket
                    for conn, pid, tasks in self._greeted(check):
                        if tasks == 0 and pid in waiting:
                            self.sel.register(conn, selectors.EVENT_READ, pid)
                            self._reply(conn, frame, check)
                        else:
                            self._reply(conn, _STOP, check)
                elif conn is self.conns.get(pid):  # a resident task
                    self._read_up(conn, pid, iteration, waiting, got, check)
                else:  # a per-iteration task: its one frame, then _STOP
                    try:
                        self._read_up(conn, pid, iteration, waiting, got,
                                      check)
                    except (OSError, EOFError):
                        pass  # the attempt died mid-frame; a retry resends
                    self._reply(conn, _STOP, check)
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

    def _reply(self, conn, frame: bytes, check: Callable[[], None]) -> None:
        """Send a per-iteration task ``frame``; hang up after _STOP, or
        when the task is gone (a retry says hello again)."""
        try:
            _send_all(conn, frame, check)
        except (OSError, EOFError):
            frame = _STOP
        if frame == _STOP:
            self._hang_up(conn)

    def _hang_up(self, conn) -> None:
        if conn in self.sel.get_map():
            self.sel.unregister(conn)
        conn.close()

    def gather_job(
        self,
        sc,
        out: DataFrame | RDD,
        description: str,
        iteration: int,
        frame: bytes,
        partitions: int,
    ) -> _Partials:
        """Run one per-iteration Spark job over ``out``, serve its tasks
        ``frame`` and gather their partials; cancel the job if the
        partial barrier proceeded without some, and hang up on the tasks
        still connected."""
        job = _Job(sc, description, lambda: _run_to_end(out))
        got = None
        try:
            got = self.gather(
                iteration, frame, set(range(partitions)), partitions,
                job.check,
            )
        finally:
            if got is None or len(got) < partitions:
                job.cancel()
            for key in list(self.sel.get_map().values()):
                if key.data is not None:
                    self._hang_up(key.fileobj)
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
        task: _Task,
        splits: SplitPlan | None,
        listener: _Listener,
    ) -> None:
        self.sc = sc
        self.df = df
        self.task = task
        self.splits = splits
        self.listener = listener
        self.job: _Job | None = None

    def _start(self) -> None:
        fn = _make_task_fn("resident", self.task, self.listener, self.splits)
        if self.splits is None:
            job = self.df.mapInArrow(fn, "done boolean", barrier=True)
        else:
            n = len(self.splits.partitions)
            job = self.sc.parallelize(range(n), n).barrier().mapPartitions(fn)
        self.job = _Job(
            self.sc, "guagua resident run", lambda: _run_to_end(job)
        )
        self.listener.accept(self._check)

    def _check(self) -> None:
        if not self.job.thread.is_alive():
            raise _ResidentLost(
                self.job.error or EOFError("the resident job ended")
            )

    def superstep(self, iteration: int, frame: bytes) -> _Partials:
        """Send ``frame``, this iteration's _DOWN frame, to every task
        that owes no frame and gather this iteration's partials. A task
        that still owes one (dropped at an earlier deadline) sits this
        superstep out."""
        try:
            if self.job is None:
                self._start()
            listener = self.listener
            sent = set(listener.conns) - listener.owes
            for pid in sent:
                _send_all(listener.conns[pid], frame, self._check)
            listener.owes |= sent
            return listener.gather(
                iteration, frame, sent, listener.tasks, self._check
            )
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


def _resident_blocker(sc, num_partitions: int) -> str | None:
    """Why a prepared run cannot take the resident path, or None when
    it can. The slot check runs before any job is submitted: a barrier
    stage wider than the cluster is retried by Spark's slot check for
    minutes before it fails."""
    if num_partitions == 0:
        return "no partitions"
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
        that iteration. It is a deadline on the gather, the one way up
        on every path.

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
        task = _Task(worker, total_iteration, self.props, worker_interceptors)
        prep_rdd = resident = listener = None
        persisted = applied = False
        try:
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
                why = _resident_blocker(sc, num_partitions)
                if why is None:
                    path, why = "resident", (
                        f"{remaining} rounds, {num_partitions} partitions "
                        f"fit the task slots; input: {source}"
                    )
                    if splits is not None:
                        log.debug("parquet splits: %s", splits.describe())
                    resident = _Resident(sc, df, task, splits, listen())
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
            # optional model init before the first worker pass — replaces
            # the reference's burned first iteration where workers return
            # empty results so the master can initialize weights
            # (lr/LogisticRegressionMaster.java init path)
            if master_result is None:
                initial = getattr(master, "initial_result", None)
                if callable(initial):
                    master_result = initial(mctx)
                    mctx.master_result = master_result
            for icpt in interceptors:
                icpt.pre_application(mctx)
            applied = True

            for iteration in range(start_iteration, total_iteration + 1):
                t0 = time.monotonic()
                mctx.current_iteration = iteration
                for icpt in interceptors:
                    icpt.pre_iteration(mctx)

                frame = _down_frame(iteration, master_result)
                if resident is not None:
                    try:
                        got = resident.superstep(iteration, frame)
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
                        path = "blob"
                        prep_rdd = _prepared_blobs(df, worker)
                        num_partitions = prep_rdd.getNumPartitions()
                    mctx.num_workers = num_partitions
                if resident is None:
                    if listener is None:  # the path's job, built once
                        listener = listen()
                        fn = _make_task_fn(path, task, listener)
                        if path == "blob":
                            out = prep_rdd.mapPartitions(fn)
                        else:
                            out = df.mapInArrow(fn, "done boolean")
                    # the job's description reports progress — analogue
                    # of Progressable → context.setStatus
                    # (mapreduce/GuaguaMapper.java:133-175)
                    got = listener.gather_job(
                        sc, out,
                        f"guagua iteration {iteration}/{total_iteration}",
                        iteration, frame, num_partitions,
                    )

                mctx.worker_results = got.results()
                mctx.arrived_workers = len(got)
                mctx.all_workers_halted = worker_halt_enable and got.all_halt()
                master_result = master.compute(mctx)
                if mctx.all_workers_halted:
                    _force_halt(master_result)
                mctx.master_result = master_result

                for icpt in reversed(interceptors):
                    icpt.post_iteration(mctx)
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
            if applied:
                for icpt in reversed(interceptors):
                    icpt.post_application(mctx)
            if persisted:
                df.unpersist()
            if prep_rdd is not None:
                prep_rdd.unpersist()
        return master_result


def _force_halt(result: Any) -> None:
    try:
        result.halt = True
    except AttributeError:
        pass
