"""shipping.install_zip_check: ``importlib.invalidate_caches()`` re-reads
a zip archive on ``sys.path`` only when the file changed on disk. Pure
Python, no Spark."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from guagua_spark import shipping

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from Python 3.13 on",
)


@pytest.fixture
def original(monkeypatch):
    """Start each test with the interpreter's own method and no recorded
    archives (importing guagua_spark installed the check); monkeypatch
    puts the installed one back afterwards."""
    method = zipimport.zipimporter.invalidate_caches
    method = getattr(method, "__wrapped__", method)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", method)
    monkeypatch.setattr(shipping, "_read_keys", {})
    return method


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@before_313
def test_package_import_installs_the_check():
    assert getattr(
        zipimport.zipimporter.invalidate_caches, "_guagua_zip_check", False
    )


@before_313
def test_rewritten_archive_is_reread(original, monkeypatch, tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcheck_a": "X = 1"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        sys, "path_importer_cache", dict(sys.path_importer_cache)
    )
    shipping.install_zip_check()
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("zipcheck_a").X == 1

        _write_zip(archive, {"zipcheck_a": "X = 1", "zipcheck_b": "Y = 2"})
        importlib.invalidate_caches()
        assert importlib.import_module("zipcheck_b").Y == 2
    finally:
        sys.modules.pop("zipcheck_a", None)
        sys.modules.pop("zipcheck_b", None)


@before_313
def test_unchanged_archive_is_not_reread(original, reads, tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcheck_c": "Z = 3"})
    # two importers on one archive, as a worker holds one per subpackage
    importers = [
        zipimport.zipimporter(archive),
        zipimport.zipimporter(os.path.join(archive, "pkg")),
    ]
    assert reads == [archive]  # the first constructor's read

    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 3  # the interpreter's method reads every time

    shipping.install_zip_check()
    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    assert len(reads) == 4  # once, to record the archive's key
    cached = zipimport._zip_directory_cache[archive]
    assert all(imp._files is cached for imp in importers)
    assert "zipcheck_c.py" in cached


@before_313
def test_removed_archive_empties_the_importer(original, tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcheck_d": "W = 4"})
    imp = zipimport.zipimporter(archive)
    shipping.install_zip_check()
    imp.invalidate_caches()
    assert "zipcheck_d.py" in imp._files

    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache

    _write_zip(archive, {"zipcheck_d": "W = 4"})
    imp.invalidate_caches()
    assert "zipcheck_d.py" in imp._files


@before_313
def test_installing_twice_wraps_once(original):
    shipping.install_zip_check()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not original
    shipping.install_zip_check()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.__wrapped__ is original


def test_nothing_installed_from_python_313(original, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    shipping.install_zip_check()
    assert zipimport.zipimporter.invalidate_caches is original
