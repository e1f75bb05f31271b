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
  runs from any cwd.  Both are set for a ``local`` master only: a
  cluster's executors may have nothing but the zip, and not this
  checkout.  ``extra=`` overrides either conf.
* **Under ``spark-submit``** (the north-rule deployment:
  ``spark-submit --py-files text2nkg_spark.zip jobs/...``): the launcher owns
  the master and resources — ``--master yarn``/``k8s://...``, executor and
  driver sizing, ``--conf`` overrides.  We detect the launcher via the
  ``PYSPARK_GATEWAY_PORT`` env var its PythonRunner exports
  (pyspark/java_gateway.py:57) and then never touch master, driver memory,
  UI, or shuffle-partition count — the launcher's ``--master``/``--conf``
  rule those.  The engine-semantics configs below are still pinned (they
  are part of the engine contract); override them via ``extra=``.

Engine-semantics configs are part of the correctness/perf contract: AQE on
(adaptive coalescing + skew-join splitting), Arrow on for the two pandas-UDF
stages, UTC so timestamp arithmetic is deployment-independent.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))
# Spark's own local-master forms (SparkContext.createTaskScheduler)
_LOCAL = re.compile(r"local(?:\[([0-9]+|\*)(?:\s*,\s*[0-9]+)?\])?")


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


def get_spark(
    app_name: str = "text2nkg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)

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
            # workers share this host: they import pyspark from
            # site-packages (worker_daemon.py) and this package from where
            # the driver imported it
            b = (b.config("spark.python.daemon.module",
                          "text2nkg_spark.worker_daemon")
                 .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT))
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
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-side rows as a ``LocalRelation`` with the DDL's schema.

    Built from an Arrow table: ``createDataFrame(list, ddl)`` makes a
    ``LogicalRDD`` whose every read runs Python-worker tasks, and an empty
    pandas frame does too."""
    schema = DataType.fromDDL(ddl)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
