"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload lr_long --seed 1 --seconds 5 --trace 0

Run from the checkout root. The command generates the workload's inputs
from the seed (cached per workload and seed under perfbench/_work/data),
sets up a fresh ``local[$SPARK_GRAFT_CPUS]`` session several times, trains
with the program's ``IterativeEngine`` until ``--seconds`` have passed
(at least one whole train after a short warm-up run), checks every trained
model against the golden serial replay in workloads.py, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
attaches the tracing hooks and reports the per-layer metrics instead.
Exit status: 0 when every model matched, 1 on a mismatch (after the
result line), 2 when the program cannot be imported, 3 on a benchmark
error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

#: setup rounds per run; setup_s is their median
SETUP_ROUNDS = 3
#: iterations of the warm-up run before the measured trains
WARMUP_ITERATIONS = 2
#: datasets kept per workload in the input cache
KEEP_DATASETS = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _noop(x):
    return x


def isolate(run_dir: str) -> dict[str, str]:
    """Point every place the program or Spark writes at ``run_dir``
    (wiped first, so the durable store never carries state from an
    earlier run) and return the session's extra conf."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "durable", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["GUAGUA_CACHE_DIR"] = os.path.join(run_dir, "durable")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # the JVMs' perf-data files would otherwise go to /tmp/hsperfdata_*
    no_perf = "-XX:-UsePerfData"
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} {no_perf}".strip()
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp")
        + f" {no_perf}",
    }


def prepare_data(w, seed: int) -> tuple[dict, str]:
    """In-memory inputs for the golden, and the directory holding them
    as ``input.parquet`` (written once per workload and seed)."""
    from perfbench.workloads import write_parquet

    inputs = w.inputs(seed)
    data_root = os.path.join(WORK, "data")
    data_dir = os.path.join(data_root, f"{w.name}-s{seed}-n{len(inputs['x'])}")
    os.makedirs(data_dir, exist_ok=True)
    write_parquet(w.table(inputs), os.path.join(data_dir, "input.parquet"), w.partitions)
    os.utime(data_dir)
    mine = sorted(
        (d for d in os.listdir(data_root) if d.startswith(f"{w.name}-s")),
        key=lambda d: os.path.getmtime(os.path.join(data_root, d)),
    )
    for old in mine[:-KEEP_DATASETS]:
        shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
    return inputs, data_dir


def setup_round(w, data_dir: str, rows: int, conf: dict, spans):
    """get_spark + a first trivial job, then load_table + persist + count
    of the input. Returns (spark, df, session seconds, load seconds)."""
    from guagua_spark import get_spark
    from guagua_spark.sources.tables import load_table

    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    slots = sc.defaultParallelism
    sc.parallelize(range(slots), slots).map(_noop).count()
    t1 = time.monotonic()
    df = load_table(spark, data_dir, "input")
    # one file per partition; a host whose core count splits the files
    # differently gets the workload's partition count by a shuffle
    if df.rdd.getNumPartitions() != w.partitions:
        df = df.repartition(w.partitions)
    df = df.persist()
    got = df.count()
    t2 = time.monotonic()
    if got != rows:
        raise RuntimeError(f"loaded {got} rows, generated {rows}")
    spans.add("get_spark+first_job", "session", t0, t1)
    spans.add("load_table+persist+count", "sources", t1, t2)
    return spark, df, t1 - t0, t2 - t1


def train(spark, df, w, traced: bool, tag: str, halt_after: int = 0) -> dict:
    """One IterativeEngine.run for the workload's fixed budget, stopped
    after ``halt_after`` iterations when that is set. A failure is
    recorded with its error class, not raised."""
    from guagua_spark import IterativeEngine
    from perfbench.tracing import (
        HaltAfter,
        IterationClock,
        IterationProbe,
        ListParam,
        TimedMaster,
        WorkerSpans,
    )

    sc = spark.sparkContext
    master, worker = w.program()
    if halt_after:
        master = HaltAfter(master, halt_after)
    clock = IterationClock()
    interceptors, worker_interceptors = [clock], []
    probe = acc = None
    if traced:
        master = TimedMaster(master)
        probe = IterationProbe(sc, tag)
        acc = sc.accumulator([], ListParam())
        interceptors.append(probe)
        worker_interceptors.append(WorkerSpans(acc))
    engine = IterativeEngine(spark)
    out = {
        "traced": traced,
        "error": None,
        "result": None,
        "planned": halt_after or w.iterations,
    }
    t0 = time.monotonic()
    try:
        out["result"] = engine.run(
            master,
            worker,
            df,
            total_iteration=w.iterations,
            interceptors=interceptors,
            worker_interceptors=worker_interceptors,
        )
    except Exception as exc:  # noqa: BLE001 -- counted, reported, not fatal
        out["error"] = type(exc).__name__
        log(f"train {tag} failed:\n{traceback.format_exc()}")
    out.update(
        t0=t0,
        t1=time.monotonic(),
        iter_s=list(engine.iteration_seconds),
        starts=clock.starts,
        ends=clock.ends,
    )
    log(f"train {tag} traced={traced} {out['t1'] - t0:.3f}s "
        f"iterations {[round(x, 3) for x in out['iter_s']]}")
    if traced and out["error"] is None:
        out["master_spans"] = master.spans
        out["worker_spans"] = list(acc.value)
        out["probe"] = probe.rows
        out["jobs"] = [probe.job_counts(i) for i in range(1, w.iterations + 1)]
    return out


def shutdown(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    it to exit (its Python workers go with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def _steady(trains: list[dict]) -> list[float]:
    return [s for t in trains for s in t["iter_s"][1:]]


def _time_to_target(t: dict, quality: list[float], target: float) -> float:
    for i, q in enumerate(quality):
        if q <= target:
            return t["ends"][i] - t["t0"]
    log(f"quality target {target} not reached (last {quality[-1]:.6g})")
    return t["t1"] - t["t0"]


def end_to_end(measured: list[dict], rounds, quality, w, peaks) -> dict:
    """End-to-end metrics over the trains after the warm-up."""
    med = statistics.median
    return {
        "setup_s": (med(a + b for a, b in rounds), "s"),
        "first_iter_s": (med(t["iter_s"][0] for t in measured), "s"),
        "iter_p50_s": (med(_steady(measured)), "s"),
        "train_s": (med(t["t1"] - t["t0"] for t in measured), "s"),
        "time_to_target_s": (
            med(_time_to_target(t, quality, w.target) for t in measured),
            "s",
        ),
        "final_loss": (med(w.final_loss(t["result"]) for t in measured), "1"),
        "peak_rss_mb": (peaks["python"], "MB"),
    }


def per_layer(trains, w, rounds, peaks, serial_s, spans, slots) -> dict:
    """Per-layer metrics from the first traced train, whose spans are
    added to ``spans``; the warm untraced trains of the same process give
    the tracing overhead."""
    from perfbench.tracing import self_time_by_layer

    med, mean = statistics.median, statistics.mean
    warm = [t for t in trains[1:] if t["error"] is None]
    traced = [t for t in warm if t["traced"]]
    untraced = [t for t in warm if not t["traced"]]
    if not traced or not untraced:
        raise RuntimeError("a traced run needs a traced and a warm untraced train")
    t = traced[0]
    walls, masters, wmax, wsum, busy = [], [], [], [], []
    for it in range(2, w.iterations + 1):
        wall = t["iter_s"][it - 1]
        m = [e - s for i, s, e in t["master_spans"] if i == it]
        ws = [e - s for i, _, s, e in t["worker_spans"] if i == it]
        if len(m) != 1 or len(ws) != w.partitions:
            raise RuntimeError(
                f"iteration {it}: {len(m)} master spans, {len(ws)} worker spans"
            )
        walls.append(wall)
        masters.append(m[0])
        wmax.append(max(ws))
        wsum.append(sum(ws))
        busy.append(sum(ws) / (slots * wall))
    steady_probe = [r for r in t["probe"] if r["iteration"] >= 2]
    steady_jobs = t["jobs"][1:]
    iter_p50 = med(t["iter_s"][1:])
    add_train_spans(spans, t)
    selfs = self_time_by_layer(spans.spans)
    traced_p50 = med(_steady(traced))
    untraced_p50 = med(_steady(untraced))
    return {
        "session.start_s": (med(r[0] for r in rounds), "s"),
        "session.cold_start_s": (rounds[0][0], "s"),
        "sources.load_s": (med(r[1] for r in rounds), "s"),
        "engine.warmup_s": (trains[0]["t1"] - trains[0]["t0"], "s"),
        "engine.prepare_s": (t["iter_s"][0] - iter_p50, "s"),
        "engine.iter_mean_s": (mean(walls), "s"),
        "engine.overhead_s": (mean(walls) - mean(masters) - mean(wmax), "s"),
        "engine.self_s": (selfs.get("engine", 0.0), "s"),
        "engine.jobs_per_iter": (med(j for j, _ in steady_jobs), "count"),
        "engine.tasks_per_iter": (med(k for _, k in steady_jobs), "count"),
        "engine.down_bytes": (med(r["down_bytes"] for r in steady_probe), "B"),
        "engine.up_bytes": (med(r["up_bytes"] for r in steady_probe), "B"),
        "engine.results_at_driver": (
            med(r["results_at_driver"] for r in steady_probe),
            "count",
        ),
        "engine.iter_samples": (len(walls), "count"),
        "algorithms.worker_max_s": (mean(wmax), "s"),
        "algorithms.worker_sum_s": (mean(wsum), "s"),
        "algorithms.worker_busy_share": (mean(busy), "1"),
        "algorithms.master_s": (mean(masters), "s"),
        "algorithms.self_s": (selfs.get("algorithms", 0.0), "s"),
        "mem.tree_peak_mb": (peaks["total"], "MB"),
        "mem.jvm_peak_mb": (peaks["jvm"], "MB"),
        "mem.pyworker_peak_mb": (peaks["pyworker"], "MB"),
        "mem.driver_py_peak_mb": (peaks["driver_py"], "MB"),
        "baseline.serial_train_s": (serial_s, "s"),
        "trace.overhead_share": ((traced_p50 - untraced_p50) / untraced_p50, "1"),
    }


def add_train_spans(spans, t: dict) -> None:
    root = spans.add("train", "engine", t["t0"], t["t1"])
    for it, (s, e) in enumerate(zip(t["starts"], t["ends"]), start=1):
        sid = spans.add(f"iteration {it}", "engine", s, e, root)
        for i, ms, me in t["master_spans"]:
            if i == it:
                spans.add(f"master.compute {it}", "algorithms", ms, me, sid)
        for i, p, ws, we in t["worker_spans"]:
            if i == it:
                spans.add(f"worker {it} p{p}", "algorithms", ws, we, sid)


def run(args) -> int:
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    conf = isolate(os.path.join(WORK, "run"))
    try:
        import guagua_spark
    except ImportError as exc:
        log(f"cannot import the program from {ROOT}: {exc}")
        return 2
    if not os.path.abspath(guagua_spark.__file__).startswith(ROOT + os.sep):
        log(f"guagua_spark resolved outside the checkout: {guagua_spark.__file__}")
        return 2
    from perfbench.memsampler import TreeSampler
    from perfbench.tracing import SpanLog

    run_id = f"{w.name}-s{args.seed}-p{os.getpid()}"
    spans = SpanLog(run_id)
    inputs, data_dir = prepare_data(w, args.seed)
    rows = len(inputs["x"])
    sampler = TreeSampler().start()
    spark = None
    trains: list[dict] = []
    rounds: list[tuple[float, float]] = []
    try:
        for _ in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
            spark, df, s_sess, s_load = setup_round(w, data_dir, rows, conf, spans)
            rounds.append((s_sess, s_load))
        log(f"setup rounds (session, load): {rounds}")
        # the first engine run in a process pays JVM JIT and imports in
        # the Python workers, mostly in its first iteration. A short run
        # through the same path (prepare, then file-cache rounds) is the
        # warm-up, reported only as engine.warmup_s. Trace 1 then
        # alternates a traced and an untraced train.
        plan = (True, False) if args.trace else (False,)
        trains.append(
            train(spark, df, w, False, f"{run_id}-warmup", WARMUP_ITERATIONS)
        )
        deadline = time.monotonic() + args.seconds
        while True:
            for traced in plan:
                trains.append(train(spark, df, w, traced, f"{run_id}-t{len(trains)}"))
            if time.monotonic() >= deadline:
                break
        slots = spark.sparkContext.defaultParallelism
    finally:
        peaks = sampler.stop()
        shutdown(spark)
    log(f"peak RSS in MB: {peaks}")

    attempted = sum(t["planned"] for t in trains)
    failed = sum(t["planned"] - len(t["iter_s"]) for t in trains if t["error"])
    measured = [t for t in trains[1:] if t["error"] is None]
    t0 = time.monotonic()
    ref, quality = w.replay(inputs, w.iterations)
    serial_s = time.monotonic() - t0
    spans.add("serial replay", "baseline", t0, t0 + serial_s)
    mismatched = [
        i for i, t in enumerate(measured) if not w.matches(t["result"], ref)
    ]
    if mismatched:
        log(f"trains {mismatched} do not match the golden replay")
    correct = bool(measured) and not mismatched
    metrics = {}
    if measured and args.trace:
        metrics = per_layer(trains, w, rounds, peaks, serial_s, spans, slots)
        write_spans(spans, w.name, args.seed)
    elif measured:
        metrics = end_to_end(measured, rounds, quality, w, peaks)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


def write_spans(spans, name: str, seed: int) -> None:
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}-s{seed}.jsonl")
    with open(path, "w") as f:
        for s in spans.spans:
            f.write(json.dumps(s) + "\n")
    log(f"spans written to {path}")


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        return run(args)
    except Exception:  # noqa: BLE001 -- report and fail without a result line
        log(traceback.format_exc())
        return 3


if __name__ == "__main__":
    sys.exit(main())
