"""Parquet file splits that resident tasks read themselves.

The analogue of the reference's split planning (GuaguaInputFormat.java:
149-420): each worker owns a list of ``GuaguaFileSplit(path, offset,
length)`` and reads it with its own record reader, so no other process
sits between a worker and its input. Here the split plan is Spark's
own. When a DataFrame is a bare parquet scan (at most a projection of
its columns, cached or not), the plan is the scan's ``FilePartition``s
in Spark's order, so task i reads the same files in the same order as
Spark's partition i, and the same rows reach ``prepare``. ``plan_splits``
decides on the driver from the physical plan and the file footers and
runs no Spark job; ``SplitPlan.read`` is the task side. Every other
DataFrame keeps the JVM's rows, and ``plan_splits`` says why in one
phrase.

Limits: only whole files on a local ``file:`` path (a byte-range split
would need row groups matched to Spark's ranges) and only boolean,
integer and floating columns, whose Arrow form the JVM reader and
pyarrow agree on.
"""

from __future__ import annotations

import os
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
)

#: rows per batch handed to ``prepare``: the default of
#: spark.sql.execution.arrow.maxRecordsPerBatch, which sizes the rows
#: path's batches
BATCH_ROWS = 10_000

_PLAIN_TYPES = (
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType,
)

#: physical nodes that hand their child's rows on unchanged
_PASS_THROUGH = frozenset(
    {"WholeStageCodegenExec", "ColumnarToRowExec", "InputAdapter"}
)

_PARQUET = (
    "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"
)


class FileSplit(NamedTuple):
    """One whole file as Spark listed it."""

    path: str
    size: int
    mtime_ms: int


class SplitChangedError(Exception):
    """A file is not the one Spark planned its split on."""


class SplitPlan(NamedTuple):
    """Per partition, the files its task reads, in Spark's order."""

    columns: tuple[str, ...]
    #: the schema of the rows path's Arrow batches (pyspark's
    #: ``to_arrow_schema(df.schema)``); every batch carries it
    schema: pa.Schema
    partitions: tuple[tuple[FileSplit, ...], ...]

    def describe(self) -> str:
        """Each partition's file names, for the log."""
        return "; ".join(
            f"{pid}: " + ", ".join(os.path.basename(f.path) for f in files)
            for pid, files in enumerate(self.partitions)
        )

    def read(self, partition: int) -> Iterator[pa.RecordBatch]:
        """Task side: stream the partition's files as Arrow batches.
        Raises SplitChangedError for a file whose size or mtime is not
        the planned one, before any of its rows are read."""
        import pyarrow.parquet as pq

        for split in self.partitions[partition]:
            # mapped before the check: a file replaced after it still
            # reads as the one checked
            source = pa.memory_map(split.path)
            try:
                st = os.stat(split.path)
                found = (st.st_size, st.st_mtime_ns // 1_000_000)
                if found != (split.size, split.mtime_ms):
                    raise SplitChangedError(
                        f"{split.path}: size, mtime {found} != planned "
                        f"{(split.size, split.mtime_ms)}"
                    )
                reader = pq.ParquetFile(source, pre_buffer=False)
                for batch in reader.iter_batches(
                    batch_size=BATCH_ROWS, columns=list(self.columns),
                    use_threads=False,
                ):
                    yield pa.RecordBatch.from_arrays(
                        [batch.column(c) for c in self.columns],
                        schema=self.schema,
                    )
            finally:
                source.close()


def plan_splits(df: DataFrame) -> SplitPlan | str:
    """The split plan of ``df`` if it is a bare parquet scan of whole
    local files, else the reason it is not (one phrase, for the log)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    columns = tuple(df.columns)
    if len(set(columns)) != len(columns):
        return "duplicate column"
    for field in df.schema.fields:
        if not isinstance(field.dataType, _PLAIN_TYPES):
            return f"{field.dataType.typeName()} column"
    partitions = _file_partitions(df)
    if isinstance(partitions, str):
        return partitions
    schema = to_arrow_schema(df.schema)
    why = _footer_blocker(partitions, schema)
    if why:
        return why
    return SplitPlan(columns, schema, tuple(partitions))


def _file_partitions(df: DataFrame) -> list[tuple[FileSplit, ...]] | str:
    """The files of each of Spark's partitions of ``df``, or why they
    are not whole local files of a bare parquet scan."""
    # not df's own plan, which may predate a persist(): its cache's, or
    # a fresh one (~15 ms)
    spark = df.sparkSession
    manager = spark._jsparkSession.sharedState().cacheManager()
    cached = manager.lookupCachedData(df._jdf)
    if cached.isDefined():
        plan = cached.get().cachedRepresentation().cacheBuilder().cachedPlan()
    else:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
    scan = _bare_scan(plan)
    if isinstance(scan, str):
        return scan
    why = _scan_blocker(spark, scan)
    if why:
        return why
    partitions = []
    for part in _seq(scan.inputRDD().filePartitions()):
        files = []
        for f in part.files():
            uri = f.filePath().toUri()
            if uri.getScheme() != "file":
                return "non-local file"
            size = f.fileSize()
            if f.start() != 0 or f.length() != size:
                return "byte-range split"
            files.append(FileSplit(uri.getPath(), size, f.modificationTime()))
        partitions.append(tuple(files))
    return partitions


def _seq(seq) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _bare_scan(node):
    """The FileSourceScanExec under ``node`` when only pass-through
    nodes, bare-column projections and caches sit above it; else the
    name of the first node that changes rows."""
    while True:
        kind = node.getClass().getSimpleName()
        if kind == "FileSourceScanExec":
            return node
        if kind == "InMemoryTableScanExec":
            node = node.relation().cacheBuilder().cachedPlan()
        elif kind == "AdaptiveSparkPlanExec":
            node = node.inputPlan()
        elif kind == "ProjectExec":
            # bare attributes are their own output; an Alias is not
            if not node.projectList().equals(node.output()):
                return "computed column"
            node = node.child()
        elif kind in _PASS_THROUGH:
            node = node.child()
        else:
            return node.nodeName()


def _scan_blocker(spark, scan) -> str | None:
    relation = scan.relation()
    if relation.fileFormat().getClass().getName() != _PARQUET:
        return "not parquet"
    if relation.partitionSchema().size():
        return "partition columns"
    if scan.partitionFilters().size() or scan.dataFilters().size():
        return "pushed filter"
    if scan.bucketedScan():
        return "bucketed scan"
    options = relation.options()
    for key in ("ignoreMissingFiles", "ignoreCorruptFiles"):
        # a read option overrides the session conf, as in FileSourceOptions
        opt = options.get(key)
        value = opt.get() if opt.isDefined() else spark.conf.get(
            f"spark.sql.files.{key}", "false"
        )
        if value.strip().lower() == "true":
            return key
    field_ids = spark.conf.get("spark.sql.parquet.fieldId.read.enabled")
    if field_ids.strip().lower() == "true":
        return "parquet field ids"
    return None


def _footer_blocker(partitions, schema: pa.Schema) -> str | None:
    """Why some file would not give ``schema`` when read by column
    name, from its footer alone."""
    import pyarrow.parquet as pq

    for files in partitions:
        for split in files:
            try:
                found = pq.read_schema(split.path)
            except (OSError, pa.ArrowException):
                return "unreadable footer"
            for field in schema:
                i = found.get_field_index(field.name)
                if i < 0 or found.field(i).type != field.type:
                    name = os.path.basename(split.path)
                    return f"column {field.name} differs in {name}"
    return None
