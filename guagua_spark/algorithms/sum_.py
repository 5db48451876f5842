"""Distributed iterative sum — the reference's hello-world workload.

Semantics (reference guagua-examples/.../sum/SumWorker.java:73-95,
SumMaster.java:35-60): each iteration, every worker sums its own records
PLUS the previous master sum; the master sums all worker results and
halts when the total exceeds 1,000,000. With W workers and data total D
this is the recurrence Mₙ = W·Mₙ₋₁ + D — the SumTest golden
(guagua-examples/src/test/java/.../sum/SumTest.java:45-67) runs 2 workers
over {1,2,3} and {2,3,4} for 10 iterations ⇒ 15·(2¹⁰−1) = 15345.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator

import pyarrow as pa

from guagua_spark.api import (
    MasterComputable,
    MasterContext,
    WorkerComputable,
    WorkerContext,
)

HALT_THRESHOLD = 1_000_000  # reference SumMaster.java:57


@dataclass
class SumState:
    value: int = 0
    halt: bool = False

    def combine(self, other: "SumState") -> "SumState":
        return SumState(self.value + other.value, self.halt and other.halt)


class SumWorker(WorkerComputable):
    """Sum the ``column`` of this partition, re-adding the prior master sum."""

    def __init__(self, column: str = "value") -> None:
        self.column = column

    def compute(
        self, context: WorkerContext, batches: Iterator[pa.RecordBatch]
    ) -> SumState:
        # imported here, not at module level: every worker process
        # imports this package, and pyarrow.compute costs ~60 ms there
        import pyarrow.compute as pc

        # -D sum.column=<name> overrides, like the reference's
        # Properties-driven config (mapreduce/GuaguaMapper.java:107-119)
        column = context.props.get("sum.column", self.column)
        prev = 0
        if context.last_master_result is not None:
            prev = context.last_master_result.value
        total = prev
        for batch in batches:
            col = batch.column(column)
            s = pc.sum(col).as_py()
            if s is not None:
                total += s
        return SumState(value=total)


class SumMaster(MasterComputable):
    """Sum worker sums; halt past the reference's 1e6 threshold."""

    def __init__(self, halt_threshold: int = HALT_THRESHOLD) -> None:
        self.halt_threshold = halt_threshold

    def compute(self, context: MasterContext) -> SumState:
        total = sum(r.value for r in context.worker_results if r is not None)
        return SumState(value=total, halt=total > self.halt_threshold)
