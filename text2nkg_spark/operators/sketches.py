"""Deterministic distinct-count + sampling sketches (KMV / bottom-k).

``approx_count_distinct`` (HyperLogLog) is engine-specific and therefore
unverifiable across systems; the K-Minimum-Values sketch over md5_hash52
gives the same O(k) memory / mergeable-union properties with a DETERMINISTIC
estimate any engine can recompute bit-for-bit — the house rule for every
hash-derived operator here (see plans.manifest.md5_hash52).

* ``kmv_distinct``  — per-group distinct-count estimate from the k-th
  smallest hash of the distinct values: est = floor((k-1) * 2^52 / h_k)
  (the classic KMV estimator over the [0, 2^52) hash space); groups with
  fewer than k distinct values report their EXACT count (the sketch holds
  them all).  Exposes h_k so downstream systems can MERGE sketches: the
  union's bottom-k is the bottom-k of the concatenated bottom-k sets —
  the property that lets 1000 executors sketch partitions independently
  and combine without a second pass over the data.
* ``bottomk_sample`` — the same bottom-k set used as a uniform,
  coordinated group sample: hash order is data-independent, so the sample
  is stable across reruns/partitioning AND consistent across tables
  (two tables' bottom-k sets of a shared key space overlap maximally —
  coordinated sampling for join estimation).

Both are one hash + one windowed rank per group — no UDFs, two keyed
shuffles (the distinct on (group, value), then the rank window on the
group alone; the first's distribution cannot satisfy the second).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from text2nkg_spark.plans.manifest import md5_hash52

_HASH_SPACE = float(1 << 52)  # md5_hash52 range; exact as a float64


def _ranked_hashes(
    df: DataFrame, group_cols: list[str], value_col: str, seed: int
) -> DataFrame:
    """Distinct (group, value) pairs hashed and ranked ascending.

    NULL values are excluded (matching countDistinct and the oracle's
    string-concat key, where a NULL yields a NULL hash) — concat_ws would
    otherwise silently hash a NULL as hash(seed) and count it."""
    d = (df.select(*group_cols, F.col(value_col).alias("_v"))
         .where(F.col("_v").isNotNull()).distinct())
    key = F.concat_ws("|", F.lit(str(seed)), F.col("_v").cast("string"))
    d = d.withColumn("_h", md5_hash52(key))
    w = Window.partitionBy(*group_cols).orderBy("_h", "_v")
    return d.withColumn("_rank", F.row_number().over(w))


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Per-group KMV distinct-count sketch.

    Output: group_cols + (n_kept, kth_hash, est_distinct) — n_kept < k
    means the group is exact (est = n_kept); otherwise
    est = floor((k-1) * 2^52 / kth_hash).  All values are integers or the
    52-bit hash itself, so a DuckDB auditor recomputes every cell.
    """
    assert k >= 2, "the (k-1)/h_k estimator needs k >= 2"
    ranked = _ranked_hashes(df, group_cols, value_col, seed)
    bottom = ranked.where(F.col("_rank") <= k)
    agg = bottom.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("_h").alias("kth_hash"),
    )
    # single precomputed double literal — (k-1) * 2^52 is exactly
    # representable for k <= 2048, and one literal sidesteps engines that
    # parse float constants as DECIMAL (DuckDB overflows the product)
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("long")
    ).otherwise(
        F.floor(F.lit(float(k - 1) * _HASH_SPACE)
                / F.col("kth_hash").cast("double")).cast("long"))
    return agg.withColumn("est_distinct", est)


def bottomk_sample(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Per-group coordinated uniform sample: the k hash-smallest distinct
    values.  Stable across reruns, layouts, and engines; consistent across
    tables sharing the key space.  Output: group_cols + (value, rank)."""
    ranked = _ranked_hashes(df, group_cols, value_col, seed)
    return (
        ranked.where(F.col("_rank") <= k)
        .select(*group_cols, F.col("_v").alias(value_col),
                F.col("_rank").cast("int").alias("rank"))
    )


def nearest_rank_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact per-group quantiles by the nearest-rank definition: the value
    at ordered position ``ceil(p * n)`` (1-based).

    ``percentile_approx`` is engine-specific (t-digest internals differ);
    nearest-rank returns an ACTUAL data value with zero interpolation
    arithmetic, so any engine with a window rank reproduces it bit-for-bit
    — same house rule as the KMV sketch above.  The ceil runs on the same
    IEEE double product in every engine, so the selected rank agrees.

    One sort-shuffle per group (the rank window), then a conditional-max
    hash agg; at data scale the window is the cost — for hot groups feed a
    pre-aggregated (value, count) run-length form instead.
    Output: group_cols + n + one ``p<nn>`` column per requested quantile.
    """
    w = Window.partitionBy(*group_cols).orderBy("_v")
    wn = Window.partitionBy(*group_cols)
    # NULLs are not values: excluded BEFORE ranking (n counts non-NULL),
    # exactly like _ranked_hashes above — Spark sorts NULLS FIRST while
    # DuckDB defaults NULLS LAST, so an unfiltered NULL would shift every
    # rank differently per engine (and can itself be "selected")
    ranked = df.select(
        *group_cols, F.col(value_col).alias("_v")
    ).where(F.col("_v").isNotNull()).withColumn(
        "_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn))
    aggs = [F.max("_n").cast("long").alias("n")]
    names = set()
    for p in ps:
        target = F.ceil(F.lit(p) * F.col("_n"))
        # :g after a 6-dp round gives stable names (no banker's-rounding
        # mislabels); dots become underscores (p12_5)
        name = "p" + f"{round(p * 100, 6):g}".replace(".", "_")
        if name in names:
            raise ValueError(f"duplicate quantile column name {name!r} "
                             f"for ps={ps}")
        names.add(name)
        aggs.append(
            F.max(F.when(F.col("_rn") == target, F.col("_v"))).alias(name))
    return ranked.groupBy(*group_cols).agg(*aggs)


# --------------------------------------------------------------- bloom

# Largest bloom (in 32-bit words) bloom_filter_expr will inline as a plan
# literal; 1024 words = 2^15 bits.  Above this, Catalyst's per-query walk
# over the literal dominates (measured ~6 s at 8,192 words) and callers
# must use bloom_filter_join (broadcast data) instead.
_MAX_LITERAL_BLOOM_WORDS = 1024

def _bloom_positions(key_col, bits: int, k: int, seed: int):
    """k md5-derived bit positions for a key — deterministic and
    reproducible in any engine with md5 (same house rule as KMV)."""
    return [
        md5_hash52(F.concat(key_col.cast("string"), F.lit(f"|{i}|{seed}")))
        % F.lit(bits)
        for i in range(k)
    ]


def bloom_bitmap(
    df: DataFrame,
    key_col: str,
    bits: int = 1024,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Build a Bloom filter over a key column as ``(word_idx, bits)`` rows
    — ``bits/32`` words of 32 bits each in a BIGINT (shifts stay < 32, so
    no sign/overflow edge in ANY engine's 64-bit left-shift).

    One explode + one ``bit_or`` hash agg: partial aggregation builds
    per-partition bitmaps map-side and ORs them in the reduce — exactly
    how 1000 executors build a bloom over a dimension in one pass.  The
    output is broadcast-sized by construction (32 rows at 1024 bits),
    ready to fold into a scan-side filter (``bloom_filter_expr``) — the
    semi-join-pruning pattern: ship the small side's bloom to the big
    side's scan and drop non-matching rows before the join shuffle.
    """
    assert bits % 32 == 0, "bits must be a multiple of 32"
    # NULL keys hash to NULL positions -> a spurious (NULL, NULL) row;
    # excluded like every hash sketch here (see _ranked_hashes)
    pos = df.where(F.col(key_col).isNotNull()).select(
        F.explode(F.array(
            *_bloom_positions(F.col(key_col), bits, k, seed))).alias("pos"))
    return (
        pos.select(
            (F.col("pos") / 32).cast("int").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            .alias("w"))
        .groupBy("word_idx")
        .agg(F.bit_or("w").alias("bits"))
    )


def bloom_words(
    df: DataFrame,
    key_col: str,
    bits: int = 1024,
    k: int = 3,
    seed: int = 42,
    local_threshold: int = 200_000,
) -> list[int]:
    """Build the bloom and return it as the dense ``bits/32``-long word
    list ``bloom_filter_expr`` consumes (missing words filled with 0).
    This collect IS the pattern: the small side's bloom ships to the big
    side's scan — bits/32 long-typed words = bits/4 bytes (64 KB at 2^18 bits).

    Size-adaptive (r7): at or below ``local_threshold`` non-null keys of
    integer/string type the bitmap is built driver-side from one bounded
    key collect — the same md5/position/word arithmetic (hashlib md5 ==
    Spark md5 on UTF-8; CAST(BIGINT AS STRING) == str(int)), asserted
    bit-identical in tests/test_sketches.py — instead of paying the
    explode + bit_or aggregate's fixed shuffle jobs for a toy key set.
    Above the threshold (or for key types whose string cast is not
    trivially reproducible) the distributed map-side aggregate runs
    unchanged — that is the 1000-executor shape.  ``local_threshold=0``
    forces it."""
    if local_threshold > 0:
        head = (
            df.select(key_col).where(F.col(key_col).isNotNull())
            .limit(local_threshold + 1).collect())
        if len(head) <= local_threshold and all(
                isinstance(r[0], (int, str)) and not isinstance(r[0], bool)
                for r in head):
            import hashlib

            words = [0] * (bits // 32)
            for r in head:
                s = str(r[0])
                for i in range(k):
                    p = int(hashlib.md5(
                        f"{s}|{i}|{seed}".encode("utf-8"))
                        .hexdigest()[:13], 16) % bits
                    words[p // 32] |= 1 << (p % 32)
            return words
    bm = {r["word_idx"]: r["bits"]
          for r in bloom_bitmap(df, key_col, bits, k, seed).collect()}
    return [bm.get(i, 0) for i in range(bits // 32)]


def bloom_filter_expr(
    words: list[int],
    key_col,
    bits: int = 1024,
    k: int = 3,
    seed: int = 42,
):
    """Membership test as a pure scan-side Column over a driver-collected
    word array (``words[i]`` = the bitmap word for word_idx i, missing
    words 0).  Zero shuffle, zero join: the bloom folds into the filter
    exactly like a pushed-down predicate — false positives possible,
    false negatives impossible.

    Prefer :func:`bloom_filter_join` for big blooms: the word list here
    becomes a PLAN literal, and Catalyst walks it through every
    analyzer/optimizer rule on every fresh query — measured ~6 s of
    driver-side planning per query at 2^18 bits (8,192 words), vs ~0 when
    the same array ships as broadcast data.  The literal shape is right
    for small blooms (<= 1024 words = 2^15 bits) where predicate-pushdown
    placement matters more than plan size, and that bound is ENFORCED:
    bigger word lists raise so the round-3 47-second literal-path
    regression is unrepresentable through this API.
    """
    if len(words) > _MAX_LITERAL_BLOOM_WORDS:
        raise ValueError(
            f"bloom_filter_expr got {len(words)} words "
            f"(> {_MAX_LITERAL_BLOOM_WORDS}): a bloom this size as a plan "
            "literal costs seconds of Catalyst planning per query — use "
            "bloom_filter_join, which ships the bitmap as broadcast data")
    # ONE ArrayType Literal, not F.array(*[F.lit(w) ...]): an 8192-element
    # CreateArray is NOT constant-folded and re-evaluates per row per probe
    # (~25k-node expression tree; measured 9x slower on a 600k-row scan).
    # A single Literal is built once and indexed O(1).
    arr = F.lit([int(w) for w in words]).cast("array<bigint>")
    # 1 << (p % 32) via a pow2-array lookup: F.shiftleft only takes a
    # literal shift amount (see similarity._margin_probes)
    pow2 = F.lit([1 << b for b in range(32)]).cast("array<bigint>")
    cond = F.lit(True)
    for p in _bloom_positions(key_col, bits, k, seed):
        word = F.element_at(arr, (p / 32).cast("int") + 1)
        bit = F.element_at(pow2, (p % 32).cast("int") + 1)
        cond = cond & ((word.bitwiseAND(bit)) != 0)
    return cond


def bloom_filter_join(
    df: DataFrame,
    words: list[int],
    key_col: str,
    bits: int = 1024,
    k: int = 3,
    seed: int = 42,
    flag: str = "bloom_ok",
) -> DataFrame:
    """Attach the bloom membership flag by shipping the word array as
    BROADCAST DATA (a 1-row cross join) instead of a plan literal.

    Same bits/positions as :func:`bloom_filter_expr`; the difference is
    where the bitmap lives.  As a literal, an 8,192-word bloom is walked
    by every Catalyst rule on every fresh query (~6 s of driver planning
    measured at 2^18 bits); as broadcast data the plan stays O(1) and the
    64 KB array ships once per executor — the shape a 1000-executor
    scan-side bloom actually uses (build map-side with ``bloom_bitmap``,
    collect 8 KB-64 KB of words, broadcast back out).  Downstream filters
    on ``flag`` prune before any join shuffle; false positives possible,
    false negatives impossible.
    """
    spark = df.sparkSession
    bdf = spark.createDataFrame(
        [([int(w) for w in words], [1 << b for b in range(32)])],
        "_bloom_arr array<bigint>, _bloom_pow2 array<bigint>")
    out = df.crossJoin(F.broadcast(bdf))
    cond = F.lit(True)
    for p in _bloom_positions(F.col(key_col), bits, k, seed):
        word = F.element_at(F.col("_bloom_arr"), (p / 32).cast("int") + 1)
        bit = F.element_at(F.col("_bloom_pow2"), (p % 32).cast("int") + 1)
        cond = cond & ((word.bitwiseAND(bit)) != 0)
    return out.withColumn(flag, cond).drop("_bloom_arr", "_bloom_pow2")
