"""PySpark's Python worker daemon, importing pyspark and py4j from their
installed, bytecode-cached packages instead of Spark's zips.

Spark starts ``python -m <spark.python.daemon.module> <worker module>``
with ``pyspark.zip``, ``py4j-*.zip`` and the Spark core jar first on
``PYTHONPATH``. zipimport neither reads nor writes bytecode, so every
daemon compiles the ~390 modules of ``pyspark.daemon`` and
``pyspark.worker`` from source: 1.2-1.5 s on 4 cores, against ~0.25 s
from the installed package's ``__pycache__``. When the installed pyspark
and py4j are the zipped releases (byte-equal ``version.py``), this moves
the archives to the end of ``sys.path``, then runs PySpark's own daemon;
otherwise it runs that daemon unchanged. ``python -m`` imports
``guagua_spark`` first, so the forked workers find the package, and its
zip check, already imported from its directory. ``session.get_spark``
selects this module for local sessions (``session._daemon_module``).
"""

from __future__ import annotations

import os
import sys
import zipfile

_ARCHIVES = (".zip", ".jar")
_PACKAGES = ("pyspark", "py4j")


def _version_file(pkg: str, entries: list[str]) -> bytes | None:
    """``pkg/version.py`` from the first of ``entries`` that has one, or
    None."""
    for entry in entries:
        try:
            if entry.endswith(_ARCHIVES):
                with zipfile.ZipFile(entry) as z:
                    return z.read(f"{pkg}/version.py")
            with open(os.path.join(entry or ".", pkg, "version.py"), "rb") as f:
                return f.read()
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
    return None


def archives_last(path: list[str]) -> list[str]:
    """``path`` with its zip and jar entries moved to the end, in their
    order, when the first installed copy of every package in _PACKAGES
    has the same ``version.py`` as the first archived copy; else
    ``path`` unchanged."""
    archives = [e for e in path if e.endswith(_ARCHIVES)]
    dirs = [e for e in path if not e.endswith(_ARCHIVES)]
    for pkg in _PACKAGES:
        zipped = _version_file(pkg, archives)
        if zipped is None or zipped != _version_file(pkg, dirs):
            return list(path)
    return dirs + archives


if __name__ == "__main__":
    sys.path[:] = archives_last(sys.path)
    from pyspark import daemon

    daemon.manager()
