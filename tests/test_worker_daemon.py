"""Where self-launched Python workers import pyspark and this package from.

``session.get_spark`` runs the worker daemon as ``worker_daemon`` in local
mode.  It drops from the worker path Spark's ``pyspark.zip`` and
``py4j-*-src.zip`` when the same versions import from elsewhere, and every
archive with no Python in it (Spark's spark-core jar).  ``get_spark`` also
puts this package's parent directory on the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from text2nkg_spark.worker_daemon import codeless, droppable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LIB = "/opt/spark/python/lib"
PYSPARK_ZIP = f"{LIB}/pyspark.zip"
PY4J_ZIP = f"{LIB}/py4j-0.10.9.9-src.zip"
USER_ZIP = "/home/u/deps.zip"
PATH = ["/work", PYSPARK_ZIP, PY4J_ZIP, USER_ZIP, "/site-packages"]
ZIPPED = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}


def test_same_version_drops_both_spark_zips():
    assert droppable(PATH, ZIPPED, dict(ZIPPED)) == [PYSPARK_ZIP, PY4J_ZIP]


def test_different_version_keeps_the_zip():
    got = droppable(PATH, ZIPPED, {"pyspark": "4.0.0", "py4j": "0.10.9.9"})
    assert got == [PY4J_ZIP]
    assert droppable(PATH, ZIPPED, {"pyspark": "4.0.0", "py4j": "0.10.9.7"}) \
        == []


def test_no_copy_outside_the_zip_keeps_it():
    assert droppable(PATH, ZIPPED, {}) == []
    assert droppable(PATH, ZIPPED, {"pyspark": None, "py4j": None}) == []
    # an unreadable version in the zip is never taken as a match
    assert droppable(PATH, {}, {"pyspark": None, "py4j": None}) == []


def test_unrelated_zips_are_always_kept():
    user = ["/work", USER_ZIP, f"{LIB}/other.zip", "/x/py4j-0.10.9.9-src.zip",
            "/site-packages"]
    assert droppable(user, ZIPPED, dict(ZIPPED)) == []
    assert USER_ZIP not in droppable(PATH, ZIPPED, dict(ZIPPED))


def _archive(path, *members):
    with zipfile.ZipFile(path, "w") as z:
        for m in members:
            z.writestr(m, "")
    return str(path)


def test_archive_of_classes_only_is_dropped(tmp_path):
    jar = _archive(tmp_path / "core.jar", "META-INF/MANIFEST.MF",
                   "org/apache/Foo.class", "org/apache/Foo$1.class")
    assert codeless([str(tmp_path), jar, "/site-packages", jar]) == [jar]


def test_archive_with_a_python_module_is_kept(tmp_path):
    zip_ = _archive(tmp_path / "deps.zip", "README", "dep/mod.py")
    jar = _archive(tmp_path / "mixed.jar", "org/Foo.class", "org/bar.pyc")
    assert codeless([zip_, jar]) == []


def test_missing_path_and_directory_are_kept(tmp_path):
    not_zip = tmp_path / "notes.txt"
    not_zip.write_text("no archive")
    assert codeless([str(tmp_path), str(tmp_path / "gone.jar"),
                     str(not_zip)]) == []


def test_workers_hold_no_archive_importer(spark):
    def seen(it):
        for _ in it:
            yield (list(sys.path),
                   sorted({type(f).__name__
                           for f in sys.path_importer_cache.values()}))

    path, finders = spark.sparkContext.parallelize([0], 1) \
        .mapPartitions(seen).collect()[0]
    assert not any(e.endswith(".jar") for e in path), path
    assert "zipimporter" not in finders, finders


def test_workers_import_pyspark_outside_zips(spark):
    def where(it):
        import py4j
        import pyspark

        for _ in it:
            yield pyspark.__file__, py4j.__file__

    files = spark.sparkContext.parallelize([0], 1).mapPartitions(where) \
        .collect()[0]
    for f in files:
        assert not any(p.endswith(".zip") for p in f.split(os.sep)), files


def test_job_runs_from_any_cwd(tmp_path):
    """The batch job from a cwd outside the checkout, with no PYTHONPATH:
    its workers still import the package (from the driver's checkout)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g",
               SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    out = tmp_path / "out"
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_extraction.py"),
         "--synthetic", "80", "--output", str(out)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=420)
    assert res.returncode == 0, res.stderr[-3000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])
    stages = [k for k in stats if k not in ("wall_s", "master")]
    assert "facts" in stages
    for stage in stages:
        with open(out / f"{stage}.manifest.json") as f:
            assert json.load(f)["complete"], stage
