"""A local session names the OpenBLAS kernel its Python workers load,
from numpy's own CPU detection, unless the user chose one or the
master is a cluster (session._openblas_coretype)."""

from __future__ import annotations

import ctypes
import os

import pytest
from pyspark import BarrierTaskContext

from guagua_spark.session import (
    _CORETYPE_KEY,
    _cpu_features,
    _openblas_coretype,
)

SKX = {"AVX512_SKX": True, "AVX2": True, "FMA3": True}
AVX2 = {"AVX512_SKX": False, "AVX2": True, "FMA3": True}


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_masters_get_the_cpus_kernel(master):
    assert _openblas_coretype(master, {}, {}, SKX) == "SkylakeX"
    assert _openblas_coretype(master, {}, {}, AVX2) == "Haswell"


@pytest.mark.parametrize(
    "master",
    [None, "yarn", "spark://host:7077", "k8s://https://h:443",
     "local-cluster[2,1,1024]"],
)
def test_cluster_masters_get_nothing(master):
    assert _openblas_coretype(master, {}, {}, SKX) is None


def test_users_choice_wins():
    assert _openblas_coretype(
        "local[4]", {}, {"OPENBLAS_CORETYPE": "Zen"}, SKX
    ) is None
    assert _openblas_coretype(
        "local[4]", {_CORETYPE_KEY: "Haswell"}, {}, SKX
    ) is None


def test_no_avx2_gets_nothing():
    sse = {"AVX512_SKX": False, "AVX2": False, "FMA3": False, "SSE42": True}
    assert _openblas_coretype("local", {}, {}, sse) is None
    # AVX2 without FMA3 is no Haswell either
    assert _openblas_coretype("local", {}, {}, {"AVX2": True}) is None
    assert _openblas_coretype("local", {}, {}, {}) is None


def _loaded_openblas_core() -> str | None:
    """The kernel the process's OpenBLAS runs, or None when the library
    exports no ``openblas_get_corename*`` or cannot be found."""
    import numpy  # noqa: F401 — loads numpy's OpenBLAS

    try:
        with open("/proc/self/maps") as maps:
            paths = {
                line.split()[-1] for line in maps if "openblas" in line
            }
    except OSError:
        return None
    for path in sorted(paths):
        lib = ctypes.CDLL(path)
        for name in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, name, None)
            if fn is not None:
                fn.argtypes = []
                fn.restype = ctypes.c_char_p
                return fn().decode()
    return None


def _probe(_rows):
    BarrierTaskContext.get().barrier()  # four live workers at once
    yield os.getpid(), os.environ.get("OPENBLAS_CORETYPE"), (
        _loaded_openblas_core()
    )


def test_workers_load_the_chosen_kernel(spark):
    sc = spark.sparkContext
    cpu = _cpu_features()
    want = os.environ.get("OPENBLAS_CORETYPE") or _openblas_coretype(
        "local[4]", {}, {}, cpu
    )
    got = sc.parallelize(range(4), 4).barrier().mapPartitions(_probe).collect()
    assert len({pid for pid, _, _ in got}) == 4, got
    assert {env for _, env, _ in got} == {want}, got
    cores = {core for _, _, core in got}
    if None in cores:
        pytest.skip("numpy's OpenBLAS does not report its core")
    if cpu.get("AVX2"):
        assert "Prescott" not in cores, got
