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
- **AllReduce** = executor-side partial aggregation + driver combine
  (reference: io/Combinable.java, master/NettyMasterCoordinator.java
  merge-on-arrival), expressed as mapInArrow + treeReduce;
- **model broadcast** = ``sc.broadcast`` (reference: AbstractMasterCoordinator
  znode publish/chunking — unnecessary on Spark, TorrentBroadcast handles it).

Relational/declared queries are plain DataFrame programs optimized by
Catalyst; the iterative engine is reserved for genuinely iterative
algorithms (LR, k-means, NN) where per-partition numpy is the idiom.
"""

from guagua_spark.api import (
    Combinable,
    HaltableResult,
    MasterComputable,
    MasterContext,
    MasterInterceptor,
    WorkerComputable,
    WorkerContext,
    WorkerInterceptor,
)
from guagua_spark.engine import IterativeEngine
from guagua_spark.monitor import ComputeTimeout, computable_monitor
from guagua_spark.session import get_spark
from guagua_spark.shipping import install_zip_check

# executor Python workers import this package when they unpickle a
# guagua task; from then on their per-task cache invalidation stops
# re-reading pyspark's zip archives (see shipping.install_zip_check)
install_zip_check()


def clear_all_caches() -> None:
    """Unpersist and drop every session index memo across the package
    (pair graph, IVF quantizer/cells, LSH buckets, media assets, LR/NN
    features, k-means init, certificate scalars) — the one-call hook
    for data-regeneration paths and cold-path benchmarking."""
    import importlib

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
