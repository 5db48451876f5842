"""The package must reach executor workers even when the host app built
its own SparkSession before importing us (no PYTHONPATH export)."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from guagua_spark.shipping import _package_zip

SCRIPT = r"""
import os, sys
# simulate a host app: NO guagua_spark on PYTHONPATH for workers
os.environ.pop("PYTHONPATH", None)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .appName("hostile-host")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
# only NOW does the host import the package (driver-side only)
sys.path.insert(0, "/root/repo")
import importlib.util
spec = importlib.util.spec_from_file_location("entry", "/root/repo/__spark_entry__.py")
m = importlib.util.module_from_spec(spec); spec.loader.exec_module(m)
qs = m.queries()
sf = "/root/testdata/sf0.001"
# iterative query: engine closures pickle classes by reference
print("LR_TRAIN_ROWS", qs["lr_train"](spark, sf).count())
# pandas-UDF query: module-global helper pickled by reference
print("SIMHASH_ROWS", qs["dedup_simhash"](spark, sf).count())
print("SHIP_OK")
"""


def test_queries_survive_hostile_session():
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/tmp",  # not the repo — workers can't rely on cwd either
        env={
            k: v
            for k, v in os.environ.items()
            if k != "PYTHONPATH"
        },
    )
    assert "SHIP_OK" in r.stdout, (r.stdout[-1000:], r.stderr[-3000:])


def test_processes_share_one_package_zip():
    """The shipped zip is named by the package's source, not by the
    process: a second process finds the first one's file instead of
    leaving another in the temp directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mine = _package_zip()
    r = subprocess.run(
        [sys.executable, "-c",
         "from guagua_spark.shipping import _package_zip; print(_package_zip())"],
        capture_output=True, text=True, timeout=120, cwd=repo,
    )
    assert r.stdout.strip() == mine, r.stderr[-2000:]
    sources = {
        os.path.relpath(os.path.join(root, name), repo)
        for root, _, files in os.walk(os.path.join(repo, "guagua_spark"))
        for name in files
        if name.endswith(".py")
    }
    assert set(zipfile.ZipFile(mine).namelist()) == sources
