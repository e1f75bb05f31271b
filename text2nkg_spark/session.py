"""SparkSession factory with scale-oriented defaults.

Two launch shapes, one factory:

* **Self-launched** (tests, perfbench, ``python jobs/...``): we pick the
  master (``local[$SPARK_GRAFT_CPUS]``, every core of the host when unset),
  size ``spark.sql.shuffle.partitions`` to the core count, and set driver
  memory / UI off for local iteration.
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

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def _under_spark_submit() -> bool:
    """True when a launcher (spark-submit / PythonRunner) owns the JVM.

    spark-submit starts the gateway JVM first and exports
    ``PYSPARK_GATEWAY_PORT`` for the Python driver to connect to; a
    self-launched python process has no gateway yet.
    """
    return "PYSPARK_GATEWAY_PORT" in os.environ


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
            try:
                shuffle_partitions = max(
                    8, int(master.split("[")[1].rstrip("]*")))
            except (IndexError, ValueError):
                shuffle_partitions = 32
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
