"""Resident tasks that read their own parquet splits: per partition they
must hand ``prepare`` the same Arrow table the JVM's rows would; every
other input shape keeps the rows path and says why; and a changed file
or a lost worker on the split path still ends in the model a clean run
gives (reference: GuaguaInputFormat split planning, workers reading
their own GuaguaFileSplits)."""

from __future__ import annotations

import logging
import os
import pickle
import re

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest
from py4j import protocol
from pyspark import TaskContext
from pyspark.sql import functions as F

from guagua_spark.algorithms.gradient import (
    GradientDescentMaster,
    LogisticGradientWorker,
)
from guagua_spark.api import (
    MasterComputable,
    MasterInterceptor,
    WorkerComputable,
)
from guagua_spark.engine import LOAD_ONCE_MIN_ROUNDS, IterativeEngine
from guagua_spark.sources.splits import plan_splits
from test_load_once import _KillOnce

ENGINE_LOG = "guagua_spark.engine"
SPLITS = "input: parquet splits"


def _typed_table(rows: int, seed: int) -> pa.Table:
    """int32, int64, float32, float64 and bool columns, every one with
    nulls."""
    r = np.random.default_rng(seed)
    nulls = r.random((5, rows)) < 0.1
    return pa.table({
        "i32": pa.array(
            r.integers(-9, 9, rows, dtype=np.int32), mask=nulls[0]
        ),
        "i64": pa.array(r.integers(-2**40, 2**40, rows), mask=nulls[1]),
        "f32": pa.array(
            r.standard_normal(rows).astype(np.float32), mask=nulls[2]
        ),
        "f64": pa.array(r.standard_normal(rows), mask=nulls[3]),
        "flag": pa.array(r.random(rows) > 0.5, mask=nulls[4]),
    })


def _write(directory, sizes, seed=0, **kwargs) -> str:
    os.makedirs(directory)
    for i, rows in enumerate(sizes):
        pq.write_table(
            _typed_table(rows, seed + i),
            os.path.join(directory, f"part-{i:05d}.parquet"),
            **kwargs,
        )
    return str(directory)


class _Capture(WorkerComputable):
    """Hands the batches ``prepare`` saw up to the master once."""

    def compute(self, context, batches):
        raise NotImplementedError

    def prepare(self, batches):
        return list(batches)

    def compute_prepared(self, context, data):
        if context.current_iteration == 1:
            return context.partition_id, data
        return None


class _KeepFirst(MasterComputable):
    def compute(self, context):
        if context.current_iteration == 1:
            return dict(context.worker_results)
        return context.master_result


def _ship_batches(batches):
    pid = TaskContext.get().partitionId()
    yield pa.RecordBatch.from_pydict(
        {"pid": [pid], "blob": [pickle.dumps(list(batches))]}
    )


def _rows_batches(df) -> dict[int, list[pa.RecordBatch]]:
    """What a plain mapInArrow job hands each partition."""
    rows = df.mapInArrow(_ship_batches, "pid long, blob binary").collect()
    return {r.pid: pickle.loads(r.blob) for r in rows}


def _table(batches, schema) -> pa.Table:
    for b in batches:
        assert b.schema == schema
    return pa.Table.from_batches(batches, schema=schema)


@pytest.mark.parametrize(
    "layout, columns, cached",
    [
        ("file per partition", None, False),
        ("file per partition", None, True),
        ("packed small files", None, False),
        ("packed small files", None, True),
        ("file per partition", ("f64", "flag", "i32"), False),
    ],
)
def test_split_tables_equal_rows_tables(
    spark, caplog, tmp_path, layout, columns, cached
):
    sizes = [300, 450, 200, 350] if layout == "file per partition" else [
        100 + 10 * i for i in range(12)
    ]
    df = spark.read.parquet(_write(tmp_path / "in", sizes))
    if columns:
        df = df.select(*columns)
    if cached:
        df = df.persist()
        df.count()
    try:
        plan = plan_splits(df)
        files = [len(p) for p in plan.partitions]
        assert len(files) == 4
        if layout == "packed small files":
            assert max(files) > 1, files
        with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
            seen = IterativeEngine(spark).run(
                _KeepFirst(), _Capture(), df,
                total_iteration=LOAD_ONCE_MIN_ROUNDS,
            )
        assert any(SPLITS in m for m in caplog.messages), caplog.messages
        rows = _rows_batches(df)
        assert sorted(seen) == sorted(rows) == [0, 1, 2, 3]
        schema = next(b.schema for bs in rows.values() for b in bs)
        assert schema.names == list(columns or df.columns)
        for pid in rows:
            assert _table(seen[pid], schema).equals(_table(rows[pid], schema))
    finally:
        df.unpersist()


# -- the rows path for every other shape ----------------------------------


def _lr_table(rows: int, seed: int) -> pa.Table:
    r = np.random.default_rng(seed)
    x = r.standard_normal((rows, 2))
    y = ((x @ [1.0, -2.0] + r.standard_normal(rows)) > 0).astype(float)
    return pa.table({"f1": x[:, 0], "f2": x[:, 1], "label": y})


@pytest.fixture(scope="module")
def lr_dir(tmp_path_factory) -> str:
    """Two files of ten 1000-row row groups each."""
    d = tmp_path_factory.mktemp("split_lr") / "in"
    os.makedirs(d)
    for i in range(2):
        pq.write_table(
            _lr_table(10_000, i), str(d / f"part-{i:05d}.parquet"),
            row_group_size=1_000,
        )
    return str(d)


def _train(spark, df, rounds=LOAD_ONCE_MIN_ROUNDS, **kwargs):
    return IterativeEngine(spark).run(
        GradientDescentMaster(dim=2, learning_rate=0.5),
        LogisticGradientWorker(("f1", "f2"), "label"),
        df,
        total_iteration=rounds,
        **kwargs,
    ).weights


def _replay(df, rounds=LOAD_ONCE_MIN_ROUNDS) -> np.ndarray:
    pdf = df.toPandas()
    x = np.column_stack(
        [np.ones(len(pdf)), pdf["f1"].to_numpy(), pdf["f2"].to_numpy()]
    )
    y = pdf["label"].to_numpy()
    w = np.zeros(3)
    for _ in range(rounds):
        err = 1.0 / (1.0 + np.exp(-(x @ w))) - y
        w = w - 0.5 * (x.T @ err) / len(y)
    return w


def _csv(spark, lr_dir):
    path = os.path.join(os.path.dirname(lr_dir), "csv")
    if not os.path.exists(path):
        os.makedirs(path)
        pacsv.write_csv(
            pq.read_table(lr_dir), os.path.join(path, "part-0.csv")
        )
    return spark.read.csv(
        path, schema="f1 double, f2 double, label double", header=True
    )


def _byte_ranges(spark, lr_dir):
    # each ~240 kB file splits in two
    spark.conf.set("spark.sql.files.maxPartitionBytes", "150000")
    return spark.read.parquet(lr_dir)


def _ignore_missing(spark, lr_dir):
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    return spark.read.parquet(lr_dir)


@pytest.mark.parametrize(
    "reason, shape",
    [
        ("Filter", lambda s, d: s.read.parquet(d).filter(F.col("f1") > -1.0)),
        ("Exchange", lambda s, d: s.read.parquet(d).repartition(3)),
        ("computed column",
         lambda s, d: s.read.parquet(d).withColumn("f2", F.col("f2") * 2.0)),
        ("byte-range split", _byte_ranges),
        ("not parquet", _csv),
        ("ignoreMissingFiles", _ignore_missing),
    ],
)
def test_other_inputs_keep_rows_path(spark, caplog, lr_dir, reason, shape):
    conf = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.ignoreMissingFiles",
        )
    }
    try:
        df = shape(spark, lr_dir)
        with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
            weights = _train(spark, df)
        line = f"input: Spark rows ({reason})"
        assert any(
            m.startswith("resident path: ") and m.endswith(line)
            for m in caplog.messages
        ), caplog.messages
        np.testing.assert_allclose(weights, _replay(df), rtol=1e-9)
    finally:
        for k, v in conf.items():
            spark.conf.set(k, v)


def test_plain_scan_takes_splits(spark, caplog, lr_dir):
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        weights = _train(spark, spark.read.parquet(lr_dir))
    assert any(SPLITS in m for m in caplog.messages), caplog.messages
    np.testing.assert_allclose(
        weights, _replay(spark.read.parquet(lr_dir)), rtol=1e-9
    )


# -- recovery on the split path --------------------------------------------


def _lost_at(caplog, iteration: int) -> list[str]:
    pattern = rf"resident job lost at iteration {iteration} \((\w+):"
    return [
        m.group(1)
        for m in (re.match(pattern, msg) for msg in caplog.messages)
        if m
    ]


def test_changed_file_falls_back_to_cached_rows(spark, caplog, tmp_path):
    """A file replaced after persist() and after a first run read the
    splits: the second run's task refuses the file, the resident job is
    lost before the first superstep, and the run finishes on the blob
    path over the cached rows."""
    d = tmp_path / "in"
    os.makedirs(d)
    for i in range(2):
        pq.write_table(
            _lr_table(3_000, 10 + i), str(d / f"part-{i:05d}.parquet")
        )
    df = spark.read.parquet(str(d)).persist()
    df.count()
    try:
        want = _replay(df)
        with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
            first = _train(spark, df)
        assert any(SPLITS in m for m in caplog.messages), caplog.messages
        np.testing.assert_allclose(first, want, rtol=1e-9)
        target = str(d / "part-00001.parquet")
        pq.write_table(_lr_table(500, 99), target + ".new")
        os.replace(target + ".new", target)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
            broken = _train(spark, df)
        assert any(SPLITS in m for m in caplog.messages), caplog.messages
        # the task's own error, not the driver's py4j call
        assert _lost_at(caplog, 1) == ["SplitChangedError"], caplog.messages
        np.testing.assert_allclose(broken, want, rtol=1e-9)
        # the same cached rows, through the JVM
        rows = df.withColumn("label", F.col("label") * 1.0)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
            clean = _train(spark, rows)
        assert not any(SPLITS in m for m in caplog.messages)
        np.testing.assert_array_equal(broken, clean)
        np.testing.assert_array_equal(broken, first)
    finally:
        df.unpersist()


def test_spark_append_between_runs_is_read(spark, caplog, tmp_path):
    """A Spark write to a persisted DataFrame's directory between two
    runs: Spark refreshes the cached relation's file listing in place and
    rebuilds the cache, so the second run must plan the new files too and
    train on the rows the cache now holds. (``df.toPandas()`` still
    serves the old rows from ``df``'s own executed plan, so the replay
    reads the directory afresh.)"""
    d = str(tmp_path / "in")
    spark.createDataFrame(_lr_table(3_000, 20).to_pandas()).write.parquet(d)
    df = spark.read.parquet(d).persist()
    df.count()
    try:
        with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
            first = _train(spark, df)
        assert any(SPLITS in m for m in caplog.messages), caplog.messages
        np.testing.assert_allclose(first, _replay(df), rtol=1e-9)
        spark.createDataFrame(_lr_table(2_000, 21).to_pandas()).write.mode(
            "append"
        ).parquet(d)
        assert df.count() == 5_000
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
            second = _train(spark, df)
        assert any(SPLITS in m for m in caplog.messages), caplog.messages
        assert not _lost_at(caplog, 1), caplog.messages
        np.testing.assert_allclose(
            second, _replay(spark.read.parquet(d)), rtol=1e-9
        )
    finally:
        df.unpersist()


#: py4j's finalizer thread sends these whenever Python frees a proxy
_PROXY_FREED = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


class _Sent(MasterInterceptor):
    """py4j commands sent, from any thread, between the start of
    iteration 2 and the end of the last iteration."""

    def __init__(self, commands: list) -> None:
        self.commands = commands
        self.at: dict[tuple[str, int], int] = {}

    def pre_iteration(self, context) -> None:
        self.at["pre", context.current_iteration] = len(self.commands)

    def post_iteration(self, context) -> None:
        self.at["post", context.current_iteration] = len(self.commands)

    def supersteps_after_first(self) -> list[str]:
        last = max(i for _, i in self.at)
        return self.commands[self.at["pre", 2]:self.at["post", last]]


def test_resident_supersteps_make_no_driver_round_trip(
    spark, caplog, lr_dir, monkeypatch
):
    """A resident superstep is socket frames only: no py4j call from the
    driver while supersteps 2..N run, on a first run and on a repeat run
    over the same DataFrame."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    commands = []

    def counted(command, *args, **kwargs):
        if not command.startswith(_PROXY_FREED):
            commands.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    df = spark.read.parquet(lr_dir)
    runs = []
    for _ in range(2):
        sent = _Sent(commands)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
            runs.append(_train(spark, df, rounds=5, interceptors=[sent]))
        assert any(SPLITS in m for m in caplog.messages), caplog.messages
        assert sent.supersteps_after_first() == []
    np.testing.assert_array_equal(runs[0], runs[1])
    np.testing.assert_allclose(runs[1], _replay(df, rounds=5), rtol=1e-9)


def test_lost_worker_on_split_path_recovers(spark, caplog, lr_dir, tmp_path):
    rounds = LOAD_ONCE_MIN_ROUNDS + 2
    df = spark.read.parquet(lr_dir)
    marker = str(tmp_path / "killed")
    with caplog.at_level(logging.INFO, logger=ENGINE_LOG):
        broken = _train(
            spark, df, rounds, worker_interceptors=[_KillOnce(marker)]
        )
    assert os.path.exists(marker)
    assert any(SPLITS in m for m in caplog.messages), caplog.messages
    assert len(_lost_at(caplog, 3)) == 1, caplog.messages
    np.testing.assert_array_equal(broken, _train(spark, df, rounds))


def test_plan_names_other_reasons(spark, tmp_path):
    """Reasons found from the schema, the scan and the footers alone,
    with no Spark job."""
    d = tmp_path / "typed"
    _write(d, [50, 60])
    df = spark.read.parquet(str(d))
    assert plan_splits(df.withColumn("s", F.lit("x"))) == "string column"
    assert plan_splits(df.select("f64", "f64")) == "duplicate column"
    parts = tmp_path / "parts"
    for k in (1, 2):
        _write(parts / f"k={k}", [40], seed=k)
    assert plan_splits(spark.read.parquet(str(parts))) == "partition columns"
    # a file whose column has another type than the one Spark took
    mixed = tmp_path / "mixed"
    _write(mixed, [30])
    pq.write_table(
        _typed_table(30, 5).set_column(
            1, "i64", pa.array(np.arange(30, dtype=np.int32))
        ),
        str(mixed / "part-00001.parquet"),
    )
    schema = "i32 int, i64 long, f32 float, f64 double, flag boolean"
    assert plan_splits(spark.read.schema(schema).parquet(str(mixed))) == (
        "column i64 differs in part-00001.parquet"
    )
