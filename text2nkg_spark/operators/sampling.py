"""Deterministic sampling + token-budget sharding — training-data pipeline
operators (graft-side; the reference has none of these, SURVEY.md §2.9
"no sampling" — a 100 TB corpus pipeline cannot live without them).

Design rules shared with the rest of the repo:

* Decisions hash CONTENT KEYS, never rows' physical placement — a rerun on
  different partitioning keeps/drops exactly the same documents (unlike
  ``df.sample``, whose per-partition RNG changes with the split layout).
* The hash is md5_hash52 (13 hex chars of md5) so every decision is
  bit-reproducible in any engine with md5 — all operators here are
  DuckDB-oracle-checkable.
* Everything is inline JVM SQL: no UDFs, no shuffles beyond the window in
  the sharder (one, keyed by the shard order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from text2nkg_spark.plans.manifest import md5_hash52

#: hash-space denominator for sampling rates: rate r keeps buckets < r*1000
SAMPLE_BUCKETS = 1000


def sample_bucket(id_col, seed: int = 42):
    """Stable per-document sample bucket in [0, 1000)."""
    key = F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string"))
    return (md5_hash52(key) % SAMPLE_BUCKETS).cast("int")


def deterministic_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id", seed: int = 42
) -> DataFrame:
    """Keep a stable ``rate`` fraction: bucket(id) < rate * 1000.

    Properties a 100 TB pipeline needs and ``df.sample`` lacks: (a) the
    kept set is a pure function of (id, seed) — stable across reruns,
    repartitioning, and engines; (b) rates NEST — the 1% sample is a
    subset of the 10% sample at the same seed, so a rate sweep reuses
    downstream artifacts; (c) no RNG state to coordinate across executors.
    """
    return df.withColumn("sample_bucket", sample_bucket(id_col, seed)).where(
        F.col("sample_bucket") < int(rate * SAMPLE_BUCKETS))


def stratified_sample(
    df: DataFrame,
    strata_rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. language rebalancing: keep all
    low-resource docs, downsample the dominant language).  Same bucket
    hash as deterministic_sample, so per-stratum samples nest too.

    Strata keys must be non-null and mutually comparable (the rate chain
    sorts them); rows whose ``strata_col`` is NULL match no stratum
    (null-unsafe ``==``) and fall to ``default_rate`` — coalesce nulls to
    a sentinel stratum first if they must survive."""
    thresh = F.lit(int(default_rate * SAMPLE_BUCKETS))
    for value, rate in sorted(strata_rates.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(int(rate * SAMPLE_BUCKETS))
        ).otherwise(thresh)
    return df.withColumn("sample_bucket", sample_bucket(id_col, seed)).where(
        F.col("sample_bucket") < thresh)


def token_quota_shards(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    part_col=None,
) -> DataFrame:
    """Assign docs (in ``id_col`` order) to shards of ~``budget`` tokens:
    shard = floor(exclusive-prefix-sum(n_tokens) / budget).

    This is quota sharding, not exact bin packing: a doc never splits, a
    shard may overrun by at most one doc, and the assignment is a pure
    prefix-sum — one window, engine-reproducible, and ORDER-STABLE (doc k's
    shard never depends on later docs, so an append-only corpus extends
    its shards without rewriting history — the property that matters for
    incremental 100 TB packing runs; exact greedy packing lacks it).
    ``pack_greedy_bins`` refines within shards when exact budgets matter.

    Scale note: one global window is a single-reducer sort at 10^12 docs —
    pass ``part_col`` (e.g. a date or corpus bucket) to scope the quota
    per partition, which is how sharding is actually run at size.  The
    quota (and the shard counter) restarts per partition, so the emitted
    ``shard_part`` column carries the partition value (empty string for
    the global path) and downstream consumers key on (shard_part, shard).
    """
    toks = F.size(F.split(F.col(text_col), " "))
    w = (Window.partitionBy(part_col) if part_col is not None
         else Window.partitionBy()).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    if part_col is None:
        part_val = F.lit("")
    elif isinstance(part_col, str):
        part_val = F.col(part_col).cast("string")
    else:
        part_val = part_col.cast("string")
    return (
        df.withColumn("n_tokens", toks)
        .withColumn("shard_part", part_val)
        .withColumn("shard", F.floor(before / budget).cast("int"))
    )


def shard_stats(sharded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-(partition, shard) summary (the sink-side packing manifest) —
    keyed on (shard_part, shard): shard ids restart per quota partition.
    ``id_col`` must match the column token_quota_shards ordered by; the
    output keeps the canonical doc_min/doc_max names either way."""
    return sharded.groupBy("shard_part", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_total"),
        F.min(id_col).alias("doc_min"),
        F.max(id_col).alias("doc_max"),
    )


def pack_greedy_bins(
    sharded: DataFrame, budget: int, id_col: str = "doc_id"
) -> DataFrame:
    """Exact greedy reset packing WITHIN each quota shard (applyInPandas —
    greedy packing is inherently sequential, but only inside a shard, so
    the sequential scan is bounded by the shard budget and shards pack in
    parallel).  A doc longer than the budget gets its own bin.

    Output bins are (shard_part, shard, bin) triples — shard ids restart
    per quota partition, so the group key includes shard_part; pytest
    asserts parity with a pure-python greedy oracle.  ``id_col`` follows
    token_quota_shards (the output column keeps its input name and type).
    """
    import pandas as pd

    id_type = sharded.schema[id_col].dataType.simpleString()
    schema = (f"`{id_col}` {id_type}, n_tokens int, shard_part string, "
              "shard int, bin int, bin_pos int")

    def pack(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="stable")
        bins, poss = [], []
        b, acc, pos = 0, 0, 0
        for t in pdf["n_tokens"]:
            t = int(t)
            if acc > 0 and acc + t > budget:
                b, acc, pos = b + 1, 0, 0
            bins.append(b)
            poss.append(pos)
            acc += t
            pos += 1
        out = pdf[[id_col, "n_tokens", "shard_part", "shard"]].copy()
        out["bin"] = bins
        out["bin_pos"] = poss
        return out

    return (
        sharded.select(id_col, "n_tokens", "shard_part", "shard")
        .groupBy("shard_part", "shard").applyInPandas(pack, schema)
    )
