"""Runtime package shipping: make ``guagua_spark`` importable inside
executor Python workers regardless of how the SparkSession was built.

The engine's worker closures and the operators' pandas UDFs reference
module-level symbols, which pickle BY REFERENCE — the worker process
must be able to ``import guagua_spark``. Exporting PYTHONPATH works only
if done BEFORE the JVM forks (our ``get_spark`` does); a host
application that built its own session first would get
ModuleNotFoundError on the first task. ``sc.addPyFile`` works at any
point: the zip is shipped to every current and future executor and
prepended to the worker's sys.path. On a real cluster this is also
exactly how you deploy this package (--py-files equivalent). A worker
that already imported the package keeps that copy: in a session whose
worker daemon is ``guagua_spark._daemon`` (local sessions from
``get_spark``), the daemon imports it from its directory, with cached
bytecode, before it forks any worker, and the shipped zip goes unread.

A Python worker imports pyspark itself from zip archives on its
``sys.path`` (``pyspark.zip``, ``py4j-*.zip``, the Spark core jar)
unless that daemon put them last, and PySpark calls
``importlib.invalidate_caches()`` at the start of every task. Before
Python 3.13, each ``zipimporter`` then re-parses its archive's whole
central directory in pure Python; a worker holds about a dozen such
importers, which cost ~0.25 s per task on 4 cores.
``install_zip_check`` makes that call re-read an archive only when the
file on disk changed. Importing ``guagua_spark`` installs it, so every
worker that unpickles a guagua task, and every worker a guagua daemon
forks, pays the re-read once per process instead of once per task.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport

_SHIPPED_ATTR = "_guagua_spark_shipped"

#: archive path -> (st_ino, st_size, st_mtime_ns) when it was last read
_read_keys: dict[str, tuple[int, int, int]] = {}


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install_zip_check() -> None:
    """Idempotently make ``zipimporter.invalidate_caches`` re-read an
    archive only when its inode, size or mtime differ from the last read
    of that path; otherwise the importer shares the cached directory.
    Changed archives and new ``sys.path`` entries are still picked up. A
    missing archive falls through to the original method, which empties
    the importer. No-op on Python >= 3.13, where the method is lazy."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_guagua_zip_check", False):
        return

    def invalidate_caches(self) -> None:
        key = _archive_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (
            key is not None
            and files is not None
            and _read_keys.get(self.archive) == key
        ):
            self._files = files
            return
        original(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_keys[self.archive] = key
        else:
            _read_keys.pop(self.archive, None)

    invalidate_caches._guagua_zip_check = True
    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _package_zip() -> str:
    """This package's ``.py`` files as a zip in the temp directory, named
    by a digest of their paths and bytes: every process serving the same
    source shares one file instead of writing one per process. It is
    never removed, because Spark's file server reads it by path for as
    long as a SparkContext that added it runs."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    sources = sorted(
        os.path.relpath(os.path.join(root, name), parent)
        for root, _, files in os.walk(pkg_dir)
        for name in files
        if name.endswith(".py")
    )
    digest = hashlib.sha256()
    for rel in sources:
        with open(os.path.join(parent, rel), "rb") as f:
            data = f.read()
        digest.update(f"{rel}\0{len(data)}\0".encode() + data)
    zpath = os.path.join(
        tempfile.gettempdir(), f"guagua_spark_pkg_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for rel in sources:
                z.write(os.path.join(parent, rel), rel)
        os.replace(tmp, zpath)
    return zpath


def ensure_shipped(sc) -> None:
    """Idempotently ship the guagua_spark package to executors."""
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    sc.addPyFile(_package_zip())
    setattr(sc, _SHIPPED_ATTR, True)
