"""The iterative BSP engine: driver = master, executors = workers.

One Spark job per iteration over the (load-once) partition data:

    prepare/persist input → loop:
        ship(master_result)                     # inline pickle | broadcast
        per-partition fold                      # Arrow | blob | local file
        treeReduce(combine) | collect           # AllReduce up
        master.compute(worker_results)          # model update, driver-side
        halt? → break
    unpersist / cleanup

Per-iteration latency model (measured, local[32], pyspark 4.1.2): any
job that executes Python tasks carries a fixed ~0.2 s scheduling floor
regardless of task count (1-32); on top of that, data movement per
round is (a) Arrow re-decode of the persisted rows (default path), (b)
a pickled-numpy blob ship (~270 ms per 3×5 MB, blob path), or (c) zero
(host-local file cache — marker job + page-cache read). The engine
picks per workload: see the prepared-mode comments in run().

This single loop replaces the reference's entire coordination layer
(~4,000 LoC of ZooKeeper/Netty master-worker barriers — SURVEY.md §2.6):
GuaguaMasterService.run's iteration loop (master/GuaguaMasterService.java:
185-293), the worker mirror loop (worker/GuaguaWorkerService.java:209-341),
znode publish/poll broadcast (master/AbstractMasterCoordinator.java:58-113),
and the Netty result transport (master/NettyMasterCoordinator.java).

Scale notes (100 TB / 1000 executors):
- Input is persisted MEMORY_AND_DISK before the loop — the analogue of the
  reference's load-once worker cache (worker/AbstractWorkerComputable.java:
  66-104, util/MemoryDiskList.java); re-reads hit the block manager, and
  partitions that don't fit in memory spill instead of recomputing.
- Worker→master traffic is one small result per partition. With a
  Combinable result the engine pre-merges executor-side via treeReduce
  (depth 2), so the driver sees O(sqrt(P)) results, not O(P) — the
  analogue of the reference's merge-on-arrival combiner
  (master/NettyMasterCoordinator.java:160-200) without its disk-spill
  machinery (BytableMemoryDiskList), which distributed reduction makes
  unnecessary.
- Master→worker traffic is TorrentBroadcast (BitTorrent-style chunks);
  the reference's 1 MB ZK chunking (GuaguaConstants.java:140-142) has no
  analogue because broadcast already scales. Previous iterations'
  broadcasts are destroyed eagerly (analogue of iter−2 znode GC,
  AbstractMasterCoordinator.java:92-107).
"""

from __future__ import annotations

import glob
import logging
import os
import pickle
import shutil
import tempfile
import time
from typing import Any, Callable, Iterator, NamedTuple, Sequence

import pyarrow as pa
from pyspark import TaskContext
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

#: minimum (remaining) iterations before the host-local file cache pays
#: for its fixed prepare/cleanup jobs — see the file-cache comment in
#: IterativeEngine.run
FILE_CACHE_MIN_ROUNDS = 8


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
        yield pa.RecordBatch.from_pydict(
            {"blob": [pickle.dumps(data, protocol=pickle.HIGHEST_PROTOCOL)]}
        )

    return fn


def _prep_cache_dir(run_id: str) -> str:
    """Host-local directory for prepared-partition files — the direct
    analogue of the reference's MemoryDiskList (util/MemoryDiskList.java:
    42-155): hot data lives in the OS page cache, cold spills to disk.
    Rooted in the executor's Spark scratch space when available (Python
    workers see SPARK_LOCAL_DIRS as the block manager's dirs)."""
    base = os.environ.get("SPARK_LOCAL_DIRS")
    base = base.split(",")[0] if base else tempfile.gettempdir()
    return os.path.join(base, f"guagua-prep-{run_id}")


def _driver_prep_dirs(sc, run_id: str) -> list[str]:
    """This run's prepared-file directories on the driver's host. The
    driver resolves Spark's local-dir roots (SPARK_LOCAL_DIRS, else
    spark.local.dir, else the temp dir) and globs one level below each,
    where the block manager's ``blockmgr-*`` dirs live; the run id is a
    fresh uuid, so only this run's directories match."""
    roots = (
        os.environ.get("SPARK_LOCAL_DIRS")
        or sc.getConf().get("spark.local.dir")
        or tempfile.gettempdir()
    )
    name = f"guagua-prep-{run_id}"
    return [
        d
        for root in roots.split(",")
        for d in glob.glob(os.path.join(root, "*", name))
    ]


def _make_prepare_write_fn(
    worker: WorkerComputable, run_id: str
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """Prepare + persist to a host-local file; emit only the partition
    id. Atomic tmp+rename so concurrent (speculative) attempts can't
    interleave partial writes."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = _partition_id()
        data = worker.prepare(batches)
        d = _prep_cache_dir(run_id)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f"p{pid}.pkl.tmp.{os.getpid()}")
        with open(tmp, "wb") as f:
            pickle.dump(data, f, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, os.path.join(d, f"p{pid}.pkl"))
        yield pa.RecordBatch.from_pydict({"pid": [pid]})

    return fn


def _make_file_iter_fn(task: _Task, run_id: str):
    """Per-iteration task over the host-local prepared files. Ships NO
    partition data through the JVM (the input is a cached 8-byte
    marker); yields (pid, pickled result) or (pid, None) when the file
    is absent on this host — the driver then falls back (re-prepare via
    the scan, or the direct Arrow path)."""

    def fn(markers) -> Iterator[tuple]:
        pid = _partition_id()
        path = os.path.join(_prep_cache_dir(run_id), f"p{pid}.pkl")
        if not os.path.exists(path):
            yield (pid, None)
            return
        with open(path, "rb") as f:
            data = pickle.load(f)
        yield (
            pid,
            _run_task(
                task, pid, lambda ctx: task.worker.compute_prepared(ctx, data)
            ),
        )

    return fn


def _make_cleanup_fn(run_id: str):
    """Best-effort removal of this run's prepared files on the host that
    executes each cleanup task: locality routes tasks to the hosts that
    wrote the files, and each task removes the ENTIRE run directory on
    its host (not just its own partition's file), so one task landing on
    a host reclaims everything that host stored. A task landing on a
    host with no files is a no-op. Residual risk — a host that stored
    files but receives no cleanup task — is bounded by run_id-scoped
    directories an operator can reap by age."""

    def fn(markers) -> Iterator[int]:
        shutil.rmtree(_prep_cache_dir(run_id), ignore_errors=True)
        yield 0

    return fn


def _make_prepared_iter_fn(
    task: _Task,
) -> Callable[[Iterator[bytes]], Iterator[bytes]]:
    """Per-iteration task over the persisted prepared blobs: the
    partition data arrives as one pickle.loads (memcpy for numpy)
    instead of an Arrow decode."""

    def fn(blobs: Iterator[bytes]) -> Iterator[bytes]:
        yield _run_task(
            task,
            _partition_id(),
            lambda ctx: task.worker.compute_prepared(
                ctx, pickle.loads(next(iter(blobs)))
            ),
        )

    return fn


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

    def _collect_file_cached(
        self,
        task: _Task,
        run_id: str,
        marker_rdd,
        ensure_rdd,
        df: DataFrame,
        num_partitions: int,
    ) -> list[_Partial]:
        """One iteration over host-local prepared files (see the
        file-cache comments in run()). Miss ladder when a host lost its
        file: (1) re-run prepare for the missing partitions (rewrites
        the file where the task lands), retry once; (2) any partition
        still missing computes via the direct Arrow path — always
        correct, just not cached."""
        sc = self.spark.sparkContext
        ffn = _make_file_iter_fn(task, run_id)
        raw = marker_rdd.mapPartitions(ffn).collect()
        got = {pid: payload for pid, payload in raw if payload is not None}
        missing = sorted(set(range(num_partitions)) - set(got))
        if missing:
            log.warning(
                "prepared files missing for partitions %s at iteration "
                "%d; re-preparing", missing, task.iteration,
            )
            sc.runJob(ensure_rdd, lambda it: list(it), missing)
            retried = sc.runJob(
                marker_rdd, lambda it: list(ffn(it)), missing
            )
            for pid, payload in retried:
                if payload is not None:
                    got[pid] = payload
            still = sorted(set(range(num_partitions)) - set(got))
            if still:
                out = df.mapInArrow(_make_worker_fn(task), "result binary")
                # this is a FRESH realization of the plan: under AQE
                # even an equal partition count doesn't prove the same
                # row→partition assignment as the pinned realization
                # (coalesce boundaries are stats-dependent), so partial
                # reuse could double count rows — recompute the WHOLE
                # iteration from this one realization instead
                # (complete cover, no overlap; correctness over cache
                # thrift on an already-rare double-miss path).
                # Interceptor semantics here are AT-LEAST-ONCE: the
                # partitions that already produced file-cached results
                # ran their worker hooks in ffn above, and this full
                # recompute runs them a second time — the same contract
                # a reference worker has under a Hadoop task reattempt
                # (WorkerInterceptor hooks re-fire on the new attempt,
                # GuaguaMapper re-runs the iteration wholesale), so
                # side-effectful interceptors must be idempotent per
                # (run_id, iteration) just as they must be on YARN.
                rows = out.rdd.collect()
                got = {pid: bytes(r.result) for pid, r in enumerate(rows)}
        return [_unwrap_partial(got[pid]) for pid in sorted(got)]

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
        extra scheduling cost keeps it opt-in; the default path is a
        single job per iteration.

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

        # LOAD-ONCE FAST PATH (reference MemoryDiskList parity — see
        # WorkerComputable.prepare): scan + convert each partition once;
        # every iteration then reuses the converted form instead of
        # re-decoding rows→Arrow→numpy.
        prepared_mode = (
            type(worker).prepare is not WorkerComputable.prepare
        )
        # Short runs stay on the persisted-Arrow path: bench A/B at
        # sf0.1 showed the load-once variants' fixed costs (prepare
        # pass, blob materialization, cleanup) outweigh their per-round
        # savings below ~8 rounds, while the reference's actual training
        # jobs (50-200 rounds) amortize them many times over.
        if prepared_mode and (
            total_iteration - start_iteration + 1 < FILE_CACHE_MIN_ROUNDS
        ):
            prepared_mode = False
        prep_rdd = None
        marker_rdd = None
        ensure_df = None
        ensure_rdd = None
        run_id = None
        use_file_cache = False
        if prepared_mode:
            num_partitions = df.rdd.getNumPartitions()
            # FILE-CACHE variant: rounds ship ZERO partition data — the
            # job maps over an 8-byte cached marker per partition and
            # reads the prepared file from the host-local page cache.
            # Its fixed costs (a prepare+write first round, a cleanup
            # pass) only amortize on long runs: measured on local[32],
            # ~+0.4 s fixed vs ~0.05-0.1 s saved per round, so it wins
            # beyond ~FILE_CACHE_MIN_ROUNDS rounds (the reference's real
            # training jobs run 50-200). Short runs and the treeReduce
            # (>32 partitions) / partial-barrier paths use the blob RDD,
            # which has no fixed-job overhead.
            remaining = total_iteration - start_iteration + 1
            use_file_cache = (
                min_workers_ratio >= 1.0
                and num_partitions <= 32
                and combine_executor_side is not True
                and remaining >= FILE_CACHE_MIN_ROUNDS
            )
            if use_file_cache:
                import uuid

                run_id = uuid.uuid4().hex[:12]
                ensure_df = df.mapInArrow(
                    _make_prepare_write_fn(worker, run_id), "pid long"
                )
                # realize the plan ONCE and derive everything from that
                # realization: under AQE a shuffle-rooted input can
                # re-plan with a DIFFERENT partition count on every
                # .rdd call, so a fresh realization in the retry path
                # would make the cached markers' partition ids dangle
                # (observed: repeated runs over a groupBy-rooted vocab
                # flip between 1 and 2 post-AQE partitions)
                ensure_rdd = ensure_df.rdd
                marker_rdd = ensure_rdd.map(
                    lambda row: row.pid
                ).persist(storage_level)
                num_partitions = marker_rdd.getNumPartitions()
            else:
                prep_fn = _make_prepare_fn(worker)
                prep_rdd = (
                    df.mapInArrow(prep_fn, "blob binary")
                    .rdd.map(lambda row: bytes(row.blob))
                    .persist(storage_level)
                )
            persist = False  # raw df no longer re-read after prepare
        else:
            if persist:
                df = df.persist(storage_level)
            num_partitions = df.rdd.getNumPartitions()

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
                if len(payload) <= INLINE_MODEL_BYTES:
                    bc = _ModelRef(payload=payload)
                else:
                    bc = _ModelRef(bc=sc.broadcast(payload))
                task = _Task(
                    worker, iteration, total_iteration, self.props, bc,
                    worker_interceptors,
                )
                if prepared_mode and not use_file_cache:
                    out_rdd = prep_rdd.mapPartitions(
                        _make_prepared_iter_fn(task)
                    )
                    partials_rdd = out_rdd.map(_unwrap_partial)
                elif not prepared_mode:
                    out = df.mapInArrow(
                        _make_worker_fn(task), "result binary"
                    )
                    out_rdd = None
                    partials_rdd = None
                else:  # file-cache variant: handled in the collect branch
                    out_rdd = None
                    partials_rdd = None

                combinable = combine_executor_side
                if combinable is None:
                    combinable = num_partitions > 32
                results: list[Any]
                if min_workers_ratio < 1.0:
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
                    if use_file_cache:
                        collected = self._collect_file_cached(
                            task, run_id, marker_rdd, ensure_rdd, df,
                            num_partitions,
                        )
                        results = [p.result for p in collected]
                        all_halt = bool(collected) and all(
                            p.all_halt for p in collected
                        )
                        mctx.arrived_workers = num_partitions
                    else:
                        raw_rdd = (
                            out_rdd
                            if prepared_mode
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
                            if prepared_mode:
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
            for icpt in reversed(interceptors):
                icpt.post_application(mctx)
            if bc is not None:
                bc.destroy()
            if persist:
                df.unpersist()
            if prep_rdd is not None:
                prep_rdd.unpersist()
            if marker_rdd is not None:
                if not sc.master.startswith("local"):
                    try:
                        # locality routes each cleanup task to the host
                        # that wrote the partition's file; best-effort
                        marker_rdd.mapPartitions(
                            _make_cleanup_fn(run_id)
                        ).collect()
                    except Exception:  # noqa: BLE001 — must not mask
                        pass
                marker_rdd.unpersist()
                # on local mode the driver shares the executors' host:
                # removing the run's directories here reclaims every file
                # with zero extra Spark jobs
                for d in _driver_prep_dirs(sc, run_id):
                    shutil.rmtree(d, ignore_errors=True)
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
