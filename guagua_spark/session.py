"""SparkSession construction tuned for the engine.

Defaults are chosen for scale-out behavior (AQE on, adaptive skew-join,
Arrow transfer for the Python boundary) so the same code that runs on
``local[32]`` in tests behaves sanely on a 1000-executor cluster.
"""

from __future__ import annotations

import os
import re
from collections.abc import Mapping

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic broadcast-join conversion. This is the
    # load-bearing config for 100 TB: static shuffle.partitions can never
    # be right for every stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every Python<->JVM hop (mapInArrow / pandas UDF / toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pin the session timezone: results must not depend on whatever tz
    # the driver/executor hosts happen to run in (and it keeps LTZ
    # streaming wall-clocks equal to the batch reader's NTZ values).
    "spark.sql.session.timeZone": "UTC",
    # Parquet pushdown is on by default; be explicit so a config regression
    # is visible in diffs.
    "spark.sql.parquet.filterPushdown": "true",
    # Don't let tiny test files explode into thousands of partitions,
    # and don't let one partition exceed a comfortable in-memory size.
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    "spark.sql.autoBroadcastJoinThreshold": "67108864",  # 64 MiB
    # Iterative jobs re-run many small stages; speculation papers over
    # stragglers the way guagua's self-kill/reattempt did
    # (reference: worker/GuaguaWorkerService.java:304-316).
    "spark.speculation": "false",  # no-op on local mode; enable on clusters
}

_CORETYPE_KEY = "spark.executorEnv.OPENBLAS_CORETYPE"
#: numpy's CPU features → the OpenBLAS kernel that runs on them, best first
_OPENBLAS_KERNELS = (
    (("AVX512_SKX",), "SkylakeX"),
    (("AVX2", "FMA3"), "Haswell"),
)


_DAEMON_KEY = "spark.python.daemon.module"


def _is_local(master: str | None) -> bool:
    return bool(master and re.fullmatch(r"local(\[.*\])?", master))


def _cpu_features() -> Mapping[str, bool]:
    """numpy's runtime CPU detection (``numpy.core`` before numpy 2)."""
    try:
        from numpy._core._multiarray_umath import __cpu_features__
    except ImportError:
        from numpy.core._multiarray_umath import __cpu_features__
    return __cpu_features__


def _openblas_coretype(
    master: str | None,
    conf: Mapping[str, str],
    environ: Mapping[str, str],
    cpu: Mapping[str, bool],
) -> str | None:
    """The OpenBLAS kernel a local session's Python workers should load,
    or None to leave OpenBLAS's own choice.

    numpy's bundled OpenBLAS (DYNAMIC_ARCH) picks its kernel from the CPU
    when it loads, and falls back to its SSE3 ``Prescott`` kernels on a
    CPU it does not recognise: 0.3.23 on an AVX-512 Xeon runs a 1024²
    dgemm on one thread at ~10 GFLOP/s, against ~50 with ``SkylakeX``.
    numpy's own detection (``cpu``) does know the CPU. Nothing is chosen
    when the user already chose (``OPENBLAS_CORETYPE`` in ``environ``,
    which local workers inherit, or the executorEnv key in ``conf``), or
    when ``master`` is not local: the driver cannot see the executors'
    CPUs, so a cluster sets the key at deploy time."""
    if _CORETYPE_KEY in conf or "OPENBLAS_CORETYPE" in environ:
        return None
    if not _is_local(master):
        return None
    for features, kernel in _OPENBLAS_KERNELS:
        if all(cpu.get(f) for f in features):
            return kernel
    return None


def _daemon_module(
    master: str | None,
    conf: Mapping[str, str],
    jvm_pythonpath: str | None,
    pkg_parent: str,
) -> str | None:
    """The Python worker daemon a local session should start, or None for
    PySpark's own (``pyspark.daemon``).

    ``guagua_spark._daemon`` imports pyspark and py4j from their
    installed packages, whose bytecode is cached, instead of compiling
    them from Spark's zips in every new daemon (~1 s of each session's
    first Python job). Its workers must import ``guagua_spark`` when
    the daemon starts, before any task has shipped it: so the package's
    parent directory ``pkg_parent`` must be on the PYTHONPATH of the
    JVM that launches them (``jvm_pythonpath``) or in ``conf``'s
    ``spark.executorEnv.PYTHONPATH``. A key set when the JVM is launched
    stays a JVM system property, so every later session in that JVM
    inherits it; get_spark exports ``pkg_parent`` before it launches
    one, so the JVM's PYTHONPATH keeps that key valid. Nothing is chosen
    when the user already chose (the key in ``conf``) or ``master`` is
    not local: a cluster sets the key at deploy time, where its
    executors have the package installed."""
    if _DAEMON_KEY in conf or not _is_local(master):
        return None
    env = conf.get("spark.executorEnv.PYTHONPATH", "")
    paths = f"{jvm_pythonpath or ''}:{env}"
    return "guagua_spark._daemon" if pkg_parent in paths.split(":") else None


def get_spark(
    app_name: str = "guagua_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    persistent_catalog: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — mirroring the driver harness.

    ``persistent_catalog=True`` switches the catalog to Hive with a
    Derby metastore stored UNDER the warehouse directory, so tables
    written by ``saveAsTable`` (the stored LSH/IVF indexes, models,
    rollups) survive session restarts — the local-mode stand-in for the
    real metastore/Glue/Unity catalog a cluster deployment has anyway.
    The default stays the in-memory catalog: Derby allows ONE process
    at a time (a lock collision with a concurrently running test suite
    or bench would be a confusing failure mode for the common path),
    and the cross-session DERIVED-state tier (guagua_spark.durable)
    needs no catalog at all. Round-trip across a real session boundary
    is proven in tests/test_durable.py.

    A local master also gets ``spark.executorEnv.OPENBLAS_CORETYPE``
    for its Python workers, derived from numpy's CPU detection
    (``_openblas_coretype``), and ``spark.python.daemon.module`` when
    its workers can import this package (``_daemon_module``), unless the
    user already set them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Driver heap must be fixed BEFORE the gateway JVM forks —
    # spark.driver.memory via builder.config is silently ignored in
    # client/local mode once the JVM exists. Local mode puts all
    # executor threads in the driver JVM, so the 1g default is far too
    # small for 32 threads + broadcasts; 8g here, overridable via env.
    from pyspark import SparkContext

    if SparkContext._active_spark_context is None and (
        "PYSPARK_SUBMIT_ARGS" not in os.environ
    ):
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {mem} pyspark-shell"
        )
    # Worker Python processes must be able to import this package (engine
    # closures pickle classes by reference). Exporting PYTHONPATH before
    # the JVM forks its Python workers covers local mode; on a cluster,
    # ship the package with --py-files or a pip install instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in prev.split(":"):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}:{prev}" if prev else pkg_parent
        )
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if persistent_catalog:
        wh = (extra_conf or {}).get(
            "spark.sql.warehouse.dir", os.path.abspath("spark-warehouse")
        )
        conf["spark.sql.catalogImplementation"] = "hive"
        conf["spark.hadoop.javax.jdo.option.ConnectionURL"] = (
            f"jdbc:derby:;databaseName={wh}/_metastore_db;create=true"
        )
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        conf.setdefault("spark.sql.shuffle.partitions", cpus)
    if extra_conf:
        conf.update(extra_conf)
    # In the session conf, not set later through sc.environment: every
    # Python job then shares one worker pool, whose daemon loads numpy
    # (and so OpenBLAS) before it forks the workers.
    master = conf.get("spark.master", master or os.environ.get("SPARK_MASTER"))
    kernel = _openblas_coretype(master, conf, os.environ, _cpu_features())
    if kernel is not None:
        conf[_CORETYPE_KEY] = kernel
    # a running JVM keeps the environment it was launched with
    jvm = SparkContext._jvm
    daemon = _daemon_module(
        master, conf,
        os.environ.get("PYTHONPATH") if jvm is None
        else jvm.System.getenv("PYTHONPATH"),
        pkg_parent,
    )
    if daemon is not None:
        conf[_DAEMON_KEY] = daemon
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
