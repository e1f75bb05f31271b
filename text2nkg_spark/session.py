"""SparkSession factory with scale-oriented defaults.

Two launch shapes, one factory:

* **Self-launched** (tests, perfbench, ``python jobs/...``): we pick the
  master (``local[$SPARK_GRAFT_CPUS]``, every core of the host when unset),
  size ``spark.sql.shuffle.partitions`` to its core count (at least 8;
  ``local_cores``), and set driver memory / UI off for local iteration.
  The Python workers run from ``worker_daemon``
  (``spark.python.daemon.module``): Spark puts ``pyspark.zip`` first on
  their path and its ``spark-core`` jar on it, and every task then
  re-reads each zipimporter's whole archive (~0.1 CPU-s a task for the
  zip, ~60 ms for the jar); the daemon drops Spark's zips when the same
  pyspark and py4j versions import from elsewhere, and every archive with
  no ``.py``/``.pyc`` member, such as the jar, which can import nothing
  but empty namespace packages.  This package's parent directory goes on
  the workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so a job
  runs from any cwd.  The driver JVM, which is also the only executor,
  compiles a method with C2 only once it has run ten times HotSpot's
  default tier-4 counts (``_JIT_OPTIONS``).  In a short local job C2's
  threads spent more CPU than the executor tasks, compiling Spark's own
  framework code (parquet, Arrow, scheduler, streaming) that does not
  run often enough there to repay it; the methods that stay hot in a
  long build, a test suite or a long-running stream still reach C2.
  C1 only (``-XX:TieredStopAtLevel=1``) saves more in a short job but
  leaves a warm JVM's tasks slower, and one C2 compiler thread
  (``-XX:CICompilerCount=2``) only moves C2's work from a stream's
  set-up into its drains.  CHANGES.md (PR 15) has the measurements.
  The flags go in ``spark.driver.defaultJavaOptions``: Spark appends
  ``spark.driver.extraJavaOptions`` to it, so a caller's own JVM options
  (perfbench's ``-Djava.io.tmpdir``) still reach the JVM beside them.
  All three are set for a ``local`` master only: a cluster's executors
  may have nothing but the zip, and not this checkout, and run in JVMs
  the factory does not start.  ``extra=`` overrides any of them.

  That JVM also starts from a dynamic class-data (AppCDS) archive of the
  classes an earlier run loaded, cached in
  ``$XDG_CACHE_HOME/text2nkg_spark/cds`` (else ``~/.cache/...``) and keyed
  on the JDK and the ``$SPARK_HOME/jars`` listing (``cds_key``).  Most of
  a short job's set-up is loading and verifying the same classes from
  Spark's jars; a mapped archive skips both.  The first process with
  no archive for its key adds ``-XX:ArchiveClassesAtExit`` instead.  JDK
  17 dumps nothing while a non-empty directory is on the class path, and
  maps an archive only under the class path it was dumped with, but
  Spark's launcher puts ``$SPARK_CONF_DIR`` first on it.  So, only when
  no gateway JVM runs yet and the effective conf dir holds nothing but
  ``*.template`` files, the launch runs with ``SPARK_CONF_DIR`` at an
  empty directory in the cache and the environment is restored after
  it; with any real conf (or anything else added to the class path)
  the JVM starts as before, so a user's conf is never dropped.  The JVM
  writes the archive only when it exits, and on Linux it exits on EOF of
  its stdin after the Python driver is gone.  So the process that dumps
  closes that stdin at interpreter exit, waits for its JVM (bounded,
  killing it past the bound), and only then renames the dump into place,
  with its size in its name: the JVM maps an archive without checking
  its length, and one cut short crashes it.  No JVM outlives its Python
  process, and a half-written archive is never used.  A successful dump
  deletes the other keys' archives and dead writers' dumps; an
  unwritable cache means a plain start.  Any archive the JVM rejects
  (``-Xshare:auto``) costs the gain, not correctness.
* **Under ``spark-submit``** (the north-rule deployment:
  ``spark-submit --py-files text2nkg_spark.zip jobs/...``): the launcher owns
  the master and resources — ``--master yarn``/``k8s://...``, executor and
  driver sizing, JVM options, ``--conf`` overrides.  We detect the
  launcher via the ``PYSPARK_GATEWAY_PORT`` env var its PythonRunner
  exports (pyspark/java_gateway.py:57) and then never touch master,
  driver memory, JVM options, UI, or shuffle-partition count — the
  launcher's ``--master``/``--conf`` rule those.  The engine-semantics
  configs below are still pinned (they are part of the engine contract);
  override them via ``extra=``.

Engine-semantics configs are part of the correctness/perf contract: AQE on
(adaptive coalescing + skew-join splitting), Arrow on for the two pandas-UDF
stages, UTC so timestamp arithmetic is deployment-independent.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
from typing import NamedTuple

import pyarrow as pa
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))
# HotSpot's tier-4 (C2) thresholds, each ten times its default
_JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=50000"
                " -XX:Tier4MinInvocationThreshold=6000"
                " -XX:Tier4CompileThreshold=150000"
                " -XX:Tier4BackEdgeThreshold=400000")
# Spark's own local-master forms (SparkContext.createTaskScheduler)
_LOCAL = re.compile(r"local(?:\[([0-9]+|\*)(?:\s*,\s*[0-9]+)?\])?")
# what Spark's launcher appends to the driver's class path besides the
# conf dir and the jars (AbstractCommandBuilder.buildClassPath)
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# how long a process that dumps the class-data archive waits, at exit, for
# its JVM to write it
_DUMP_WAIT_S = 120


def _under_spark_submit() -> bool:
    """True when a launcher (spark-submit / PythonRunner) owns the JVM.

    spark-submit starts the gateway JVM first and exports
    ``PYSPARK_GATEWAY_PORT`` for the Python driver to connect to; a
    self-launched python process has no gateway yet.
    """
    return "PYSPARK_GATEWAY_PORT" in os.environ


def local_cores(master: str) -> int | None:
    """The cores a ``local``, ``local[N]``, ``local[*]``, ``local[N,F]`` or
    ``local[*,F]`` master runs tasks on (``*``: every core of the host);
    None for any other master."""
    m = _LOCAL.fullmatch(master)
    if m is None:
        return None
    n = m.group(1)
    if n is None:
        return 1
    return (os.cpu_count() or 1) if n == "*" else int(n)


def cds_dir() -> str:
    """The class-data archive cache: ``$XDG_CACHE_HOME/text2nkg_spark/cds``,
    else ``~/.cache/text2nkg_spark/cds``."""
    base = (os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(base, "text2nkg_spark", "cds")


def _java_home() -> str | None:
    """The JDK Spark's launcher runs (bin/spark-class): ``$JAVA_HOME``, else
    the one whose ``java`` is on ``PATH``."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return java and os.path.dirname(os.path.dirname(os.path.realpath(java)))


def cds_key(java_home: str, jars: str) -> str | None:
    """An archive's key: a digest of the JDK (its path and ``release`` file,
    which names its version) and of the ``jars`` listing (each jar's name,
    size and mtime, which the JVM checks before it maps an archive); None
    when either cannot be read."""
    h = hashlib.sha256(os.path.realpath(java_home).encode())
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
        for e in sorted(os.scandir(jars), key=lambda e: e.name):
            st = e.stat()
            h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    except OSError:
        return None
    return h.hexdigest()[:16]


class _Cds(NamedTuple):
    option: str       # the JVM option that reads or writes the archive
    conf_dir: str     # the empty SPARK_CONF_DIR of the launch
    tmp: str | None   # where this process's JVM dumps; None when it reads


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _entries(directory: str) -> list[tuple[str, int, str, str]]:
    """(key, n, extension, path) of each ``<key>.<n>.jsa`` archive (n: the
    size it was written with) and ``<key>.<n>.tmp`` dump (n: the writer's
    pid) in ``directory``."""
    out = []
    for name in os.listdir(directory):
        parts = name.split(".")
        if (len(parts) == 3 and parts[1].isdigit()
                and parts[2] in ("jsa", "tmp")):
            out.append((parts[0], int(parts[1]), parts[2],
                        os.path.join(directory, name)))
    return out


def _cds_plan(spark_home: str) -> _Cds | None:
    """How this process's gateway JVM starts from the archive cache; None
    for a plain start: a JVM already runs, the conf dir holds more than
    templates, something else joins the class path, the cache is
    unwritable, or another live process is dumping this key's archive."""
    if (SparkContext._gateway is not None
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)):
        return None
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home,
                                                            "conf")
    try:
        if not all(n.endswith(".template") for n in os.listdir(conf)):
            return None
    except FileNotFoundError:
        pass
    except OSError:
        return None
    java_home = _java_home()
    key = java_home and cds_key(java_home, os.path.join(spark_home, "jars"))
    directory = cds_dir()
    # the options string is split on whitespace and quotes
    if not key or re.search(r"[\s\"'\\]", directory):
        return None
    empty = os.path.join(directory, "conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
        entries = [e for e in _entries(directory) if e[0] == key]
        for _, n, ext, path in entries:
            # the JVM maps an archive without checking its length: one
            # cut short crashes it
            if ext == "jsa" and os.path.getsize(path) == n:
                return _Cds(f"-XX:SharedArchiveFile={path}", empty, None)
        if any(ext == "tmp" and _alive(n) for _, n, ext, _ in entries):
            return None
        tmp = os.path.join(directory, f"{key}.{os.getpid()}.tmp")
        open(tmp, "wb").close()
    except OSError:
        return None
    # -Xlog: a dump warns once for each class it skips (signed jars, old
    # class-file versions)
    return _Cds(f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=error", empty,
                tmp)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _finish_dump(proc: subprocess.Popen, tmp: str) -> None:
    """At interpreter exit: end the JVM (EOF on its stdin), wait for it to
    write the archive, and only then move the archive into place; then
    drop the other archives and dead writers' ``*.tmp`` files."""
    proc.stdin.close()
    try:
        code = proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    try:
        size = os.path.getsize(tmp)
        if code != 0 or size == 0:
            _remove(tmp)
            return
        directory, name = os.path.split(tmp)
        archive = os.path.join(directory,
                               f"{name.split('.')[0]}.{size}.jsa")
        os.replace(tmp, archive)
        for _, n, ext, path in _entries(directory):
            if (ext == "jsa" and path != archive
                    or ext == "tmp" and not _alive(n)):
                _remove(path)
    except OSError:
        pass


def _launch(b: SparkSession.Builder, cds: _Cds) -> SparkSession:
    """``b.getOrCreate()`` with ``SPARK_CONF_DIR`` at the empty conf dir for
    the launch only; a process that dumps finishes the archive at exit."""
    conf = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = b.getOrCreate()
    except BaseException:
        if cds.tmp is not None:
            _remove(cds.tmp)
        raise
    finally:
        if conf is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = conf
    if cds.tmp is not None:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            _remove(cds.tmp)
        else:
            atexit.register(_finish_dump, proc, cds.tmp)
    return spark


def get_spark(
    app_name: str = "text2nkg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    cds = None

    launched = master is None and _under_spark_submit()
    if not launched:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
        master = master or f"local[{cores}]"
        if shuffle_partitions is None:
            n = local_cores(master)
            shuffle_partitions = 32 if n is None else max(8, n)
        b = (
            b.master(master)
            # local mode: the driver heap IS the whole cluster's executor
            # memory — 32 concurrent tasks in one 8 GiB JVM showed
            # multi-second GC spikes in contended bench runs; 16 GiB is
            # still an eighth of the 128 GiB host.  Env-overridable, and
            # never touched under spark-submit (the launcher sizes real
            # executors there).
            .config("spark.driver.memory",
                    os.environ.get("SPARK_DRIVER_MEM", "16g"))
            .config("spark.ui.enabled", "false")
        )
        if master.startswith("local") and not _under_spark_submit():
            # a caller's JVM options or class path would not match the
            # archive's
            if not {"spark.driver.defaultJavaOptions",
                    "spark.driver.extraClassPath"} & set(extra or ()):
                cds = _cds_plan(_find_spark_home())
            # workers share this host: they import pyspark from
            # site-packages (worker_daemon.py) and this package from where
            # the driver imported it
            b = (b.config("spark.python.daemon.module",
                          "text2nkg_spark.worker_daemon")
                 .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
                 # a caller's extraJavaOptions is appended to it
                 .config("spark.driver.defaultJavaOptions",
                         _JIT_OPTIONS if cds is None
                         else f"{_JIT_OPTIONS} {cds.option}"))
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))

    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash join when its
        # size conditions hold (sort-merge stays the fallback; AQE still
        # rules out unsafe builds at runtime) — skips both sort passes on
        # keyed joins at every scale, not a local-only tune
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate() if cds is None else _launch(b, cds)


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-side rows as a ``LocalRelation`` with the DDL's schema.

    Built from an Arrow table: ``createDataFrame(list, ddl)`` makes a
    ``LogicalRDD`` whose every read runs Python-worker tasks, and an empty
    pandas frame does too."""
    schema = DataType.fromDDL(ddl)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
