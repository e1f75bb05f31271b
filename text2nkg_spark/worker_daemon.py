"""Spark's Python worker daemon, importing pyspark from outside its zips.

Spark launches the worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``
and ``py4j-*-src.zip`` first on ``PYTHONPATH``.  Every task then calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``), and each
zipimporter re-reads its whole archive on that call: ~9 ms per importer
for the 1,328-entry ``pyspark.zip``, and a worker holds one importer per
pyspark package it has imported from the zip.

``session.get_spark`` sets this module as ``spark.python.daemon.module`` in
self-launched (local) mode.  Before anything imports pyspark it removes
those two zips from ``sys.path`` and ``sys.path_importer_cache``, each only
when the rest of the path holds the same version of its package, then runs
``pyspark.daemon.manager()``.  Forked workers then import pyspark and py4j
from their compiled copies (site-packages), and no zipimporter of theirs
is re-read per task.  Any other zip on the path stays.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(
    r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def spark_zips(path: list[str]) -> dict[str, str]:
    """``{package: entry}`` for Spark's ``pyspark.zip`` on ``path`` and the
    ``py4j-*-src.zip`` in the same directory."""
    pyspark = next((e for e in path
                    if os.path.basename(e) == "pyspark.zip"), None)
    if pyspark is None:
        return {}
    lib = os.path.dirname(pyspark)
    py4j = next((e for e in path if os.path.dirname(e) == lib and
                 fnmatch.fnmatch(os.path.basename(e), "py4j-*-src.zip")),
                None)
    return {"pyspark": pyspark, **({"py4j": py4j} if py4j else {})}


def droppable(path: list[str], zipped: dict[str, str | None],
              elsewhere: dict[str, str | None]) -> list[str]:
    """The Spark zips on ``path`` whose package version (``zipped``, read
    from the zip) equals that of the copy found on the rest of the path
    (``elsewhere``; None: no copy outside a zip)."""
    return [e for pkg, e in spark_zips(path).items()
            if zipped.get(pkg) is not None
            and zipped.get(pkg) == elsewhere.get(pkg)]


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zip_version(entry: str, pkg: str) -> str | None:
    try:
        with zipfile.ZipFile(entry) as z:
            return _version(z.read(f"{pkg}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _dir_version(path: list[str], pkg: str) -> str | None:
    """Version of the ``pkg`` that ``path`` would import, if that copy is a
    plain directory."""
    spec = PathFinder.find_spec(pkg, path)
    dirs = (spec and spec.submodule_search_locations) or []
    if not dirs or not os.path.isdir(dirs[0]):
        return None
    try:
        with open(os.path.join(dirs[0], "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def main() -> None:
    zips = spark_zips(sys.path)
    rest = [e for e in sys.path if e not in zips.values()]
    drop = droppable(
        sys.path,
        {pkg: _zip_version(e, pkg) for pkg, e in zips.items()},
        {pkg: _dir_version(rest, pkg) for pkg in zips})
    # every copy: the user's PYTHONPATH may name the zip again
    sys.path[:] = [e for e in sys.path if e not in drop]
    for key in [k for k in sys.path_importer_cache
                if any(k == e or k.startswith(e + os.sep) for e in drop)]:
        del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
