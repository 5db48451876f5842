"""A local session's Python workers come from guagua_spark._daemon: they
import pyspark and py4j from the installed packages (bytecode-cached),
not from Spark's zips, and hold guagua_spark, with its zip check, from
before they fork. session._daemon_module selects the daemon only when
the workers can import the package at daemon start."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile

import pytest

from guagua_spark._daemon import archives_last
from guagua_spark.session import _DAEMON_KEY, _daemon_module

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO, "guagua_spark")


def _in_a_fresh_pool(sc, probe):
    """``probe``'s rows from 4 tasks, run by workers of a daemon started
    for this job: Python worker pools are keyed by the job's environment,
    so a new variable gets new workers that ran nothing else."""
    key = "GUAGUA_TEST_WORKER_POOL"
    sc.environment[key] = uuid.uuid4().hex
    try:
        return sc.parallelize(range(4), 4).mapPartitions(probe).collect()
    finally:
        del sc.environment[key]


def test_workers_import_pyspark_from_the_installed_package(spark):
    def probe(_rows):
        import guagua_spark
        import py4j
        import pyspark

        yield pyspark.__file__, py4j.__file__, guagua_spark.__file__

    got = set(_in_a_fresh_pool(spark.sparkContext, probe))
    for pyspark_file, py4j_file, pkg_file in got:
        assert ".zip" not in pyspark_file and ".jar" not in pyspark_file, got
        assert ".zip" not in py4j_file and ".jar" not in py4j_file, got
        assert os.path.dirname(pkg_file) == PKG_DIR, got
    assert spark.sparkContext.getConf().get(_DAEMON_KEY) == (
        "guagua_spark._daemon"
    )


def test_every_worker_has_the_zip_check(spark):
    def probe(_rows):
        # never names guagua_spark: the check comes from the daemon
        import zipimport

        method = zipimport.zipimporter.invalidate_caches
        yield getattr(method, "_guagua_zip_check", False)

    if sys.version_info >= (3, 13):
        pytest.skip("zipimporter.invalidate_caches is lazy from Python 3.13 on")
    assert _in_a_fresh_pool(spark.sparkContext, probe) == [True] * 4


def _fake_path(tmp_path, zipped: dict, installed: dict) -> list[str]:
    """A sys.path of two zips and a jar ahead of a site directory and an
    empty one; ``zipped``/``installed`` map package -> its version.py."""
    site = tmp_path / "site"
    for pkg, text in installed.items():
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(text)
    site.mkdir(exist_ok=True)
    archives = []
    for pkg, text in zipped.items():
        path = str(tmp_path / f"{pkg}.zip")
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", text)
        archives.append(path)
    jar = str(tmp_path / "spark-core.jar")
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    empty = tmp_path / "empty"
    empty.mkdir()
    return [*archives, jar, str(site), str(empty)]


VERSIONS = {"pyspark": "__version__ = '4.1.2'\n", "py4j": "__version__ = '0.10.9.9'\n"}


def test_matching_versions_put_the_archives_last(tmp_path):
    path = _fake_path(tmp_path, VERSIONS, VERSIONS)
    assert archives_last(path) == path[3:] + path[:3]


@pytest.mark.parametrize(
    "installed",
    [
        {**VERSIONS, "py4j": "__version__ = '0.10.9.7'\n"},
        {**VERSIONS, "pyspark": "__version__ = '4.1.1'\n"},
        {"pyspark": VERSIONS["pyspark"]},
        {},
    ],
    ids=["py4j differs", "pyspark differs", "no py4j installed", "none installed"],
)
def test_other_installs_leave_the_path_alone(tmp_path, installed):
    path = _fake_path(tmp_path, VERSIONS, installed)
    assert archives_last(path) == path


def test_no_archived_copy_leaves_the_path_alone(tmp_path):
    path = _fake_path(tmp_path, {"pyspark": VERSIONS["pyspark"]}, VERSIONS)
    assert archives_last(path) == path


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_masters_get_the_daemon_when_workers_can_import_it(master):
    parent = "/srv/app"
    want = "guagua_spark._daemon"
    assert _daemon_module(master, {}, f"/x:{parent}", parent) == want
    via_conf = {"spark.executorEnv.PYTHONPATH": parent}
    assert _daemon_module(master, via_conf, None, parent) == want
    # the JVM's environment is what its workers get, not the driver's
    assert _daemon_module(master, {}, None, parent) is None
    assert _daemon_module(master, {}, "/srv/app/sub:/srv", parent) is None


@pytest.mark.parametrize(
    "master",
    [None, "yarn", "spark://host:7077", "k8s://https://h:443",
     "local-cluster[2,1,1024]"],
)
def test_cluster_masters_get_nothing(master):
    assert _daemon_module(master, {}, "/srv/app", "/srv/app") is None


def test_users_daemon_wins():
    conf = {_DAEMON_KEY: "pyspark.daemon"}
    assert _daemon_module("local[4]", conf, "/srv/app", "/srv/app") is None


def test_package_import_loads_no_pyspark_or_pyarrow():
    script = (
        "import sys, guagua_spark\n"
        "heavy = sorted({'pyspark', 'pyarrow'} & set(sys.modules))\n"
        "for name in guagua_spark.__all__:\n"
        "    exec(f'from guagua_spark import {name}')\n"
        "print(guagua_spark.__file__, heavy)\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd=REPO, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.split() == [os.path.join(PKG_DIR, "__init__.py"), "[]"]


HOST_FIRST = r"""
import json, os, sys
repo = sys.argv[1]
from pyspark.sql import SparkSession
# a host application launches the JVM without the package on PYTHONPATH
host = (SparkSession.builder.master("local[2]").appName("host")
        .config("spark.ui.enabled", "false").getOrCreate())
host.sparkContext.parallelize(range(2), 2).map(lambda x: x + 1).collect()
host.stop()
sys.path.insert(0, repo)
from guagua_spark import IterativeEngine, get_spark
from guagua_spark.algorithms import SumMaster, SumWorker

def pyspark_file(_rows):
    import pyspark
    yield pyspark.__file__

def session_round(extra):
    spark = get_spark(master="local[2]",
                      extra_conf={"spark.ui.enabled": "false", **extra})
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    daemon = sc.getConf().get("spark.python.daemon.module", "pyspark.daemon")
    files = sorted(set(sc.parallelize(range(2), 2)
                       .mapPartitions(pyspark_file).collect()))
    rdd = sc.parallelize([(1,), (2,), (3,), (2,), (3,), (4,)], 2)
    df = spark.createDataFrame(rdd, "value long")
    value = IterativeEngine(spark).run(
        SumMaster(), SumWorker(), df, total_iteration=10).value
    spark.stop()
    print("ROUND", json.dumps([daemon, files, value]), flush=True)

session_round({})
session_round({"spark.executorEnv.PYTHONPATH": repo})
session_round({})
"""


def test_session_in_a_jvm_launched_without_the_package(tmp_path):
    """A host session launched the JVM, without the package on its
    PYTHONPATH, from a directory that does not hold it: get_spark then
    keeps PySpark's daemon (the shipped zip serves the workers) unless
    ``spark.executorEnv.PYTHONPATH`` names the package, and the next
    session does not inherit that choice."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", HOST_FIRST, REPO], capture_output=True,
        text=True, cwd=tmp_path, env=env, timeout=600,
    )
    rounds = [
        json.loads(line.split(" ", 1)[1])
        for line in r.stdout.splitlines() if line.startswith("ROUND ")
    ]
    assert len(rounds) == 3, (r.stdout[-2000:], r.stderr[-4000:])
    (d1, f1, v1), (d2, f2, v2), (d3, f3, v3) = rounds
    assert (d1, d2, d3) == ("pyspark.daemon", "guagua_spark._daemon",
                            "pyspark.daemon")
    assert all(".zip" in f for f in f1 + f3), rounds
    assert not any(".zip" in f for f in f2), rounds
    assert v1 == v2 == v3 == 15345
