"""guagua_spark — a PySpark-native iterative analytics engine.

A from-scratch re-expression of the capabilities of ShifuML/guagua
(distributed, pluggable, iterative BSP computing: partitioned scan →
per-partition UDF over cached data → global aggregate with combiner
semantics → broadcast → iterate-until-converged), built Spark-first:

- the Spark **driver is the master** (reference: guagua-core
  master/GuaguaMasterService.java) — the ZooKeeper/Netty coordination
  layer of the reference collapses into a driver-side loop;
- **executors are the workers** (reference: worker/GuaguaWorkerService.java)
  — per-partition compute over a persisted DataFrame, Arrow-batched;
- **AllReduce** = per-partition partials sent up the run's socket to
  the driver's one gather, then the master's combine over them in
  partition order (reference: io/Combinable.java,
  master/NettyMasterCoordinator.java merge-on-arrival);
- **model broadcast** = ``sc.broadcast`` (reference: AbstractMasterCoordinator
  znode publish/chunking — unnecessary on Spark, TorrentBroadcast handles it).

Relational/declared queries are plain DataFrame programs optimized by
Catalyst; the iterative engine is reserved for genuinely iterative
algorithms (LR, k-means, NN) where per-partition numpy is the idiom.
"""

import importlib

from guagua_spark.shipping import install_zip_check

# executor Python workers import this package when they unpickle a
# guagua task (or, in a local session's worker daemon, before they
# fork); from then on their per-task cache invalidation stops
# re-reading pyspark's zip archives (see shipping.install_zip_check)
install_zip_check()

#: public name -> the submodule that defines it. They load on first use
#: (PEP 562), so importing the package loads neither pyspark nor
#: pyarrow: the worker daemon (_daemon.py) imports it before pyspark.
_LAZY = {
    **dict.fromkeys(
        (
            "Combinable",
            "HaltableResult",
            "MasterComputable",
            "MasterContext",
            "MasterInterceptor",
            "WorkerComputable",
            "WorkerContext",
            "WorkerInterceptor",
        ),
        "api",
    ),
    "IterativeEngine": "engine",
    "ComputeTimeout": "monitor",
    "computable_monitor": "monitor",
    "get_spark": "session",
}


def __getattr__(name: str):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_LAZY[name]}"), name)
    globals()[name] = value
    return value


def clear_all_caches() -> None:
    """Unpersist and drop every session index memo across the package
    (pair graph, IVF quantizer/cells, LSH buckets, media assets, LR/NN
    features, k-means init, certificate scalars) — the one-call hook
    for data-regeneration paths and cold-path benchmarking."""
    for mod in (
        "operators.dedup",
        "operators.similarity",
        "operators.multimodal",
        "operators.iterative",
        "operators.certmemo",
        "operators.inference",
        "operators.graph",
        "operators.features",
        "operators.events",
    ):
        importlib.import_module(f"guagua_spark.{mod}").clear_caches()


__all__ = [
    "clear_all_caches",
    "ComputeTimeout",
    "computable_monitor",
    "Combinable",
    "HaltableResult",
    "MasterComputable",
    "MasterContext",
    "MasterInterceptor",
    "WorkerComputable",
    "WorkerContext",
    "WorkerInterceptor",
    "IterativeEngine",
    "get_spark",
]

__version__ = "0.1.0"
