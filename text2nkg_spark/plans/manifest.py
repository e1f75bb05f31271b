"""Checkpoint / lineage manifests — per-stage, per-file, resumable.

The reference checkpoints model weights (run_re.py:862-888); our analogue is
pipeline-stage checkpointing: every materialized stage writes

* its data as partitioned parquet (Iceberg on clusters that ship the
  runtime jar — the writer is format-parameterized), and
* a manifest with the stage's input fingerprint, wall time, read schema and
  one (file, rows) entry per committed parquet file, the row count read from
  that file's footer.

Lineage comes from the write itself: the footers are read on the driver and
the stored schema reads the stage back without a schema-inference job, so a
stage costs its build's Spark jobs and nothing more, and a resume costs none.

``run_stage`` consults the manifest before recomputing: if the stage's
manifest is complete, has a schema and carries the same input fingerprint,
the stage is skipped and its parquet is reused — exact resume after a crash,
kill -9 included, because the manifest is deleted before the stage directory
is overwritten and committed (atomically) only after the data commit.

The fingerprint of a pure file scan is keyed on the plan and the file
listing and runs no Spark job; any other input is keyed on a hash of every
row (``input_fingerprint``).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import time
import urllib.parse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def md5_hash52(col) -> "F.Column":
    """52-bit integer hash: first 13 hex chars of md5, base-16 parsed.

    52 bits keep the value exactly representable in a float64, which is what
    lets a SQL engine without integer hex parsing (DuckDB) reproduce it via
    digit-sum arithmetic — the cross-engine hash primitive for every
    oracle-checked LSH/simhash operator.
    """
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def lineage_manifest(
    df: DataFrame, stage: str, part_col: str, hash_cols: list[str]
) -> DataFrame:
    """Engine-portable per-partition lineage: (stage, part_id, rows,
    content_hash) keyed by an EXPLICIT partition column.

    Unlike the per-file row counts ``StageManifest`` stores (which depend
    on how the write placed rows in files), this manifest is reproducible
    by any engine that can group by ``part_col``: content_hash = bit_xor of
    the 52-bit md5 of a canonical "\\x01"-joined row string —
    order-insensitive (xor commutes), overflow-free (52-bit values under
    ANSI mode), and exactly float64-representable so a DuckDB/downstream
    auditor recomputes it bit-for-bit.  This is the hash a resume/audit
    step compares across a write→read round trip.
    """
    canonical = F.concat_ws(
        "\x01", *[F.col(c).cast("string") for c in hash_cols])
    return (
        df.groupBy(F.col(part_col).cast("int").alias("part_id"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(md5_hash52(canonical)).alias("content_hash"))
        .select(F.lit(stage).alias("stage"), "part_id", "rows",
                "content_hash")
    )


class StageManifest:
    """Filesystem-backed manifest for a pipeline run."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _meta_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}.manifest.json")

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        input_fingerprint: str,
        build: "callable[[], DataFrame]",
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Build-or-resume one stage; returns the stage DataFrame (from disk)."""
        out_dir = self._stage_dir(stage)
        meta = self.read_meta(stage)
        # a manifest without a read schema predates stored schemas: rebuild
        if (meta and meta.get("complete") and "schema" in meta
                and meta.get("input_fingerprint") == input_fingerprint):
            return spark.read.schema(
                StructType.fromJson(meta["schema"])).parquet(out_dir)
        # the old manifest must not outlive the data it vouches for: a
        # build that dies mid-write leaves a partial directory, and a rerun
        # on the old input must rebuild it, not resume from it
        if meta is not None:
            os.remove(self._meta_path(stage))

        t0 = time.perf_counter()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out_dir)

        parts = _file_row_counts(out_dir)
        # a parquet readback lists partition columns last
        last = partition_by or []
        schema = StructType(
            [f for f in df.schema.fields if f.name not in last]
            + [df.schema[c] for c in last])
        meta = {
            "stage": stage,
            "complete": True,
            "input_fingerprint": input_fingerprint,
            "schema": schema.jsonValue(),
            "rows_out": sum(p["rows"] for p in parts),
            "partitions": parts,
            "wall_s": time.perf_counter() - t0,
        }
        tmp = self._meta_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path(stage))  # atomic commit marker
        # the stored schema spares the readback a schema-inference job
        return spark.read.schema(schema).parquet(out_dir)

    def read_meta(self, stage: str) -> dict | None:
        p = self._meta_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)


def _file_row_counts(out_dir: str) -> list[dict]:
    """(file, rows) for every committed parquet file under ``out_dir``, the
    rows read from the file's footer on the driver — no Spark job."""
    paths = sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"),
                             recursive=True))
    return [{"file": os.path.relpath(p, out_dir),
             "rows": pq.read_metadata(p).num_rows} for p in paths]


def input_fingerprint(df: DataFrame) -> str:
    """Deterministic fingerprint of an input, the resume key of the stages
    built from it: a change to any row changes it.

    A pure file scan (``_file_scan_key``) is keyed on its schema, its
    canonicalized plan and, per file-source leaf, the reader's format,
    options and schemas and a sha256 of every input file's bytes, with no
    Spark job: a rewritten file changes its digest, and a filter or
    projection over the same files changes the plan.  Any other input is
    keyed on schema + row count + the sum of a 64-bit hash of every row (an
    order-insensitive multiset hash), in one aggregate job.
    """
    key = _file_scan_key(df)
    if key is not None:
        return key
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.to_json(F.struct("*"))).cast("decimal(38,0)"))
        .alias("h"),
    ).first()
    return f"{df.schema.simpleString()}|{r.n}|{r.h}"


@functools.lru_cache(maxsize=None)
def _unkeyable_patterns(jvm) -> tuple:
    """Tree patterns of the expressions whose rows the plan text does not
    pin: Python and JVM UDFs (a body can change under one name) and
    aggregates (a JVM aggregate UDF has no tree pattern of its own)."""
    tp = getattr(getattr(
        jvm.org.apache.spark.sql.catalyst.trees, "TreePattern$"), "MODULE$")
    return tp.PYTHON_UDF(), tp.SCALA_UDF(), tp.AGGREGATE_EXPRESSION()


# reader options that only locate the files; the listing keys those
_PATH_OPTIONS = {"path", "paths", "basepath"}


def _leaf_key(leaf) -> list | None:
    """What decides one file-source leaf's rows: its format, its reader
    options (locations aside), its data and partition schemas and, per
    file, its path under its base (the ``basePath`` option, else the root
    path it was listed from; partition values live there) and the sha256
    of its bytes, sorted.  None unless the leaf is a ``HadoopFsRelation``
    whose files are all local, readable and under a base, and whose
    output holds no ``_metadata`` column (file paths and times as data)."""
    if (leaf.getClass().getSimpleName() != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName()
            != "HadoopFsRelation"):
        return None
    out = leaf.output()
    if any(out.apply(i).name() == "_metadata" for i in range(out.size())):
        return None
    rel = leaf.relation()
    options = {}
    it = rel.options().iterator()
    while it.hasNext():
        kv = it.next()
        options[kv._1().lower()] = kv._2()
    # root paths print as unencoded 'file:/a b', input files as URIs
    bases = ([options["basepath"]] if "basepath" in options else
             str(rel.location().rootPaths().mkString("\n")).split("\n"))
    bases = [urllib.parse.urlparse(b).path.rstrip("/") for b in bases]
    files = []
    for f in rel.location().inputFiles():
        url = urllib.parse.urlparse(f)
        path = urllib.parse.unquote(url.path)
        under = [b for b in bases if path == b or path.startswith(b + "/")]
        if url.scheme != "file" or not under:
            return None
        try:
            with open(path, "rb") as fh:
                digest = hashlib.file_digest(fh, "sha256").hexdigest()
        except OSError:
            return None
        base = max(under, key=len)
        files.append(f"{os.path.relpath(path, base)}\t{digest}")
    return [rel.fileFormat().getClass().getName(),
            sorted(f"{k}={v}" for k, v in options.items()
                   if k not in _PATH_OPTIONS),
            rel.dataSchema().simpleString(),
            rel.partitionSchema().simpleString(), sorted(files)]


def _file_scan_key(df: DataFrame) -> str | None:
    """sha256 of the schema, the session time zone, the canonicalized
    analyzed plan and ``_leaf_key`` of every leaf in plan order (subquery
    plans included) — or None unless the plan is a deterministic tree over
    file-source relations only, with no UDF and no aggregate.

    Keyed per leaf, in order, so the plan text (which prints a file leaf
    as ``Relation [none#0,...] parquet``, with no path or option) cannot
    pair one leaf with another's files: ``read(A).subtract(read(B))`` and
    ``read(B).subtract(read(A))`` key apart.  The file bytes are read on
    the driver (I/O, no Spark job); a file's place is keyed only under its
    base and mtimes not at all, so one input staged in two directories
    keys the same and a rewrite is seen even when it keeps the file's size
    and mtime.  Read-side SQL confs
    other than the time zone are assumed the same across runs.

    Not ``semanticHash()``: it differs between processes for one plan; the
    canonicalized plan's text does not.  Cached data, local relations, RDDs
    and DataSourceV2 tables are not file-source leaves, so they fall back
    to the row hash, as do UDFs and aggregates (``_unkeyable_patterns``).
    """
    jvm = df.sparkSession._jvm
    unkeyable = _unkeyable_patterns(jvm)
    qe = df._jdf.queryExecution()
    # the cache-substituted plan: a cached frame serves the rows the cache
    # holds, not the files' current ones
    plan = qe.withCachedData()
    subs = plan.subqueriesAll()
    leaves = []
    for p in [plan] + [subs.apply(i) for i in range(subs.size())]:
        if not p.deterministic() or any(
                p.containsPattern(u) for u in unkeyable):
            return None
        ps = p.collectLeaves()
        for i in range(ps.size()):
            key = _leaf_key(ps.apply(i))
            if key is None:
                return None
            leaves.append(key)
    plan_text = qe.analyzed().canonicalized().treeString(
        True, False, 2**31 - 1, False, False)
    h = hashlib.sha256()
    for part in (df.schema.simpleString(),
                 df.sparkSession.conf.get("spark.sql.session.timeZone"),
                 plan_text, json.dumps(leaves)):
        h.update(part.encode())
        h.update(b"\n")
    return f"files|{h.hexdigest()}"
