"""Spark's Python worker daemon, with no archive on its path that a task
re-reads for nothing.

Spark launches the worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``
and ``py4j-*-src.zip`` first on ``PYTHONPATH``, and its
``PythonUtils.sparkPythonPath`` adds ``$SPARK_HOME/jars/spark-core_*.jar``
(5,359 entries, not one of them Python).  Every task then calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``), and each
zipimporter re-reads its whole archive on that call: ~9 ms per importer
for the 1,328-entry ``pyspark.zip``, one importer per pyspark package
imported from it, and ~30 ms for each of the jar's two.  The jar gets its
importers from the stdlib ``copy`` module's Jython probe, ``from
org.python.core import PyStringMap``: one for the jar, one for
``<jar>/org``.

``session.get_spark`` sets this module as ``spark.python.daemon.module`` in
self-launched (local) mode.  Before anything imports pyspark it removes
from ``sys.path`` and ``sys.path_importer_cache``

* the two Spark zips, each only when the rest of the path holds the same
  version of its package (``droppable``);
* every archive that holds no ``.py`` or ``.pyc`` member (``codeless``),
  such as the jar, with each directory in it (``<jar>/org``): a
  zipimporter over it imports nothing but empty namespace packages, and
  the probe above catches its ``ImportError``.

then runs ``pyspark.daemon.manager()``.  Forked workers import pyspark and
py4j from their compiled copies (site-packages) and hold no zipimporter
that a task re-reads.  Any other archive with Python in it stays, a
``--py-files`` zip among them.
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


def codeless(path: list[str]) -> list[str]:
    """The archives on ``path`` that hold no ``.py`` or ``.pyc`` member.
    A plain directory, a missing path or a file that is not a readable
    zip is never one."""
    return [e for e in dict.fromkeys(path)
            if os.path.isfile(e) and not _holds_code(e)]


def _holds_code(archive: str) -> bool:
    try:
        with zipfile.ZipFile(archive) as z:
            return any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True


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
    bare = codeless(sys.path)
    zips = spark_zips(sys.path)
    rest = [e for e in sys.path if e not in zips.values() and e not in bare]
    drop = bare + droppable(
        sys.path,
        {pkg: _zip_version(e, pkg) for pkg, e in zips.items()},
        {pkg: _dir_version(rest, pkg) for pkg in zips})

    def dropped(entry: str) -> bool:
        # every copy, and every directory in the archive such as
        # ``<jar>/org``: the user's PYTHONPATH may name the zip again
        return any(entry == e or entry.startswith(e + os.sep) for e in drop)

    sys.path[:] = [e for e in sys.path if not dropped(e)]
    for key in [k for k in sys.path_importer_cache if dropped(k)]:
        del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
