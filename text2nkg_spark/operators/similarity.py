"""Similarity search over embedding columns (array<float>).

* ``brute_force_topk`` — exact cosine top-k per query; the correctness
  baseline.  Dot products are ``zip_with``/``aggregate`` HOFs (JVM,
  whole-stage codegen) — no Python in the hot path; ranking is a window
  ``row_number`` per query.
* ``hyperplane_bucket`` / ``lsh_topk`` — the scale path: sign-random-
  projection LSH.  Hyperplane directions are derived from ``md5`` of
  (plane, dim, seed) — deterministic, computed inline, no side data to
  broadcast, and reproducible in any engine with md5 (the DuckDB oracle
  recomputes the buckets bit-for-bit).  Queries probe only their own
  bucket; at 10^9+ vectors add multi-probe (flip one bit) which unions a
  handful of bucket keys per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from text2nkg_spark.plans.manifest import md5_hash52

# 2^51 — centers the 52-bit md5 hash so hyperplane weights are signed
_CENTER_52 = 1 << 51


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x))


def _dot(u, v):
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, x: a + x)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, vec_id, cosine, rank).

    This is a deliberate corpus×queries cartesian — the exactness baseline.
    The corpus side streams ONCE under a broadcast nested-loop join (the
    query side is explicitly broadcast, never shuffled), which is only sane
    for a bounded query batch: ``max_queries`` fails fast when the caller
    passes a data-scale query side (count() on the query df — cheap by
    construction) instead of silently scheduling |Q|x|C| work.  Pass
    ``max_queries=0`` to opt out of BOTH the guard and the broadcast hint
    (Catalyst then plans the join for whatever size arrives — a giant
    query side must not be forced through the driver); ``lsh_topk`` is
    the scale path.
    """
    guarded = max_queries > 0
    if guarded:
        n_q = queries.count()
        if n_q > max_queries:
            raise ValueError(
                f"brute_force_topk got {n_q} queries (> max_queries="
                f"{max_queries}): the exact cartesian is |Q|x|C| — use "
                "lsh_topk for data-scale query sides, or pass "
                "max_queries=0 to opt in explicitly")
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("cv"), _norm(F.col(vec_col)).alias("cn"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       _norm(F.col(vec_col)).alias("qn"))
    if guarded:  # size-checked -> safe to pin the broadcast plan
        q = F.broadcast(q)
    scored = q.join(c, F.lit(True)).select(
        "query_id", "vec_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k)


def _weight_py(p: int, i: int, seed: int) -> float:
    """Python twin of the in-plan md5 weight — same 13-hex-char md5, same
    centered float64, bit-identical (hashlib and Spark agree on md5)."""
    import hashlib

    h = hashlib.md5(f"{p}|{i}|{seed}".encode()).hexdigest()[:13]
    return float(int(h, 16) - _CENTER_52)


def _plane_projection(vec_col, p: int, seed: int, dim: int | None = None):
    """Plane p's signed projection of ``vec_col`` — the single source of
    truth for bucket bits AND probe margins (left fold in element order, so
    the float64 sum — and therefore the sign — reproduces exactly in any
    engine with md5).

    The weights are DATA-INDEPENDENT: when ``dim`` is known, they fold to
    a literal array built driver-side (same md5 → bit-identical floats),
    removing planes x dim md5 evaluations per ROW from the plan — measured
    multi-x on the embedding queries.  ``dim=None`` keeps the fully-inline
    md5 path (any length, no caller knowledge needed).
    """
    if dim is not None:
        if isinstance(vec_col, str):
            # SQL-text fast path (r7): the lambda-Column fold costs
            # ~15 py4j round-trips per plane of driver-side construction
            # (~1 s per embedding query at 8 planes); one expr string
            # parses JVM-side in a single call and resolves to the SAME
            # fold (identical casts, identical left-to-right float sums
            # — the weights are exact integers < 2^52, 'D'-suffixed so
            # they parse as the identical doubles).  Oracle parity
            # re-verified on every embedding entry.
            w_txt = ",".join(
                repr(_weight_py(p, i, seed)) + "D" for i in range(dim))
            return F.expr(
                f"aggregate(zip_with(`{vec_col}`, array({w_txt}), "
                "(x, wi) -> CAST(x AS DOUBLE) * wi), "
                "0.0D, (a, x) -> a + x)")
        # ONE ArrayType literal, not F.array(*[F.lit(w) ...]) — a single
        # py4j call and a single Literal node (same doubles)
        w = F.lit([_weight_py(p, i, seed) for i in range(dim)])
        return F.aggregate(
            F.zip_with(vec_col, w, lambda x, wi: x.cast("double") * wi),
            F.lit(0.0), lambda a, x: a + x,
        )
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)

    def weight(i):
        key = F.concat_ws(
            "|", F.lit(str(p)), i.cast("string"), F.lit(str(seed)))
        return (md5_hash52(key) - F.lit(_CENTER_52).cast("long")
                ).cast("double")

    return F.aggregate(
        F.zip_with(
            vec_col,
            F.transform(vec_col, lambda _x, i: i),
            lambda x, i: x.cast("double") * weight(i),
        ),
        F.lit(0.0), lambda a, x: a + x,
    )


def _dim_guard(vec_col, dim: int | None, expr):
    """With a literal-weight ``dim``, a mismatched vector would silently
    zip against NULL weights and bucket as NULL (rows dropped by the
    equi-join) — fail loudly instead.  NULL vectors pass through to the
    expression itself (it evaluates them exactly as the inline-md5 path
    does), so a dirty row degrades like before instead of aborting the
    job with a null-message raise."""
    if dim is None:
        return expr
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    return F.when(
        vec_col.isNull() | (F.size(vec_col) == dim), expr
    ).otherwise(
        F.raise_error(F.concat(
            F.lit(f"hyperplane dim mismatch: expected {dim}, got "),
            F.size(vec_col).cast("string"))))


def hyperplane_bucket(vec_col, planes: int = 8, seed: int = 42,
                      dim: int | None = None):
    """Sign-random-projection bucket id (0..2^planes-1), fully inline.

    Plane p's weight for dimension d = centered md5_hash52("p|d|seed") — a
    deterministic pseudo-uniform surrogate adequate for bucketing, and
    bit-reproducible in DuckDB.  Pass ``dim`` (the known vector length) to
    fold the weights into driver-built literals — identical buckets,
    no per-row md5 work.
    """
    out = F.lit(0).cast("long")
    for p in range(planes):
        out = out + F.when(
            _plane_projection(vec_col, p, seed, dim) > 0,
            F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return _dim_guard(vec_col, dim, out)


def _margin_probes(vec_col, planes: int, seed: int, multi_probe: int,
                   dim: int | None = None):
    """Probe bucket array ordered by per-plane |projection| margin.

    The base bucket's bits derive from a per-plane projection array; the
    ``multi_probe`` planes with the SMALLEST |projection| — the ones whose
    sign is least certain — are flipped first (the classic multi-probe
    refinement; a near-threshold vector's true neighbors most likely sit
    across exactly those hyperplanes).  All expressions stay inline JVM
    SQL; the query side is the only side that pays for the margin sort.
    """
    projs = F.array(
        *[_plane_projection(vec_col, p, seed, dim) for p in range(planes)])
    base = F.lit(0).cast("long")
    for p in range(planes):
        base = base + F.when(
            F.element_at(projs, p + 1) > 0, F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    # struct sort = (|margin|, plane) lexicographic — deterministic ties
    order = F.array_sort(F.array(*[
        F.struct(
            F.abs(F.element_at(projs, p + 1)).alias("m"),
            F.lit(p).alias("p"))
        for p in range(planes)]))
    # 1 << plane via array lookup (shiftleft needs a literal shift amount)
    pow2 = F.lit([1 << p for p in range(planes)]).cast("array<bigint>")
    flips = [
        base.bitwiseXOR(F.element_at(
            pow2, F.element_at(order, i + 1)["p"] + 1))
        for i in range(min(multi_probe, planes))]
    return _dim_guard(vec_col, dim, F.array(base, *flips))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    multi_probe: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: rank only within the query's hyperplane bucket.

    ``multi_probe=m`` additionally probes the m buckets reached by flipping
    one bucket bit each — ordered by the query's per-plane |projection|
    margin, smallest first (the sign least likely to separate true
    neighbors flips first; measured recall >= the uniform plane-0..m-1
    flip at equal probe count — tests/test_training_ops.py).  Probing
    multiplies only the QUERY side by (1 + m) — the corpus is hashed
    once — so the join stays bucket-bounded.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        hyperplane_bucket(vec_col, planes, seed, dim)
        .alias("bucket"))
    probes = (
        _margin_probes(vec_col, planes, seed, multi_probe, dim)
        if multi_probe > 0
        else F.array(hyperplane_bucket(vec_col, planes, seed, dim)))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        F.explode(probes).alias("bucket"))
    scored = q.join(c, "bucket").select(
        "query_id", "vec_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    if multi_probe > 0:
        # a candidate can surface via several probes; one dedup shuffle,
        # keyed the same as the ranking window that follows
        scored = scored.dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k)


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF coarse centroids: the ``n_cells`` corpus vectors
    with the smallest ``md5_hash52(id | seed)`` — KMV-style coordinated
    seeding (see operators/sketches.py), so the cell structure is a pure
    function of (ids, seed): rerun/repartition/engine invariant, and a
    SQL oracle can rebuild it.  (k-means iterations would sharpen cells
    but break cross-engine determinism; one seeded assignment pass is the
    documented trade.)  Output: (cell_id, cell_vec, cell_norm) —
    ``n_cells`` rows, broadcast-sized by construction.
    """
    h = md5_hash52(F.concat(F.col(id_col).cast("string"), F.lit(f"|{seed}")))
    # NULL ids hash to NULL, which Spark's ascending sort would put FIRST
    # (instant centroids) while a NULLS-LAST engine never selects them —
    # exclude them, same guard as sketches._ranked_hashes
    seeds = (
        corpus.where(F.col(id_col).isNotNull())
        .select(F.col(id_col).alias("_sid"),
                F.col(vec_col).alias("cell_vec"),
                h.alias("_h"))
        .orderBy("_h", "_sid")
        .limit(n_cells)
    )
    # n_cells rows post-limit — the unpartitioned window is tiny by
    # construction, never data-scale
    w = Window.orderBy("_h", "_sid")
    return seeds.select(
        (F.row_number().over(w) - 1).alias("cell_id"),
        "cell_vec",
        _norm(F.col("cell_vec")).alias("cell_norm"),
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its ``n_probe`` nearest cells by cosine to
    the centroid (rank 1 = the home cell).  The centroid side is
    broadcast (n_cells rows); the rank window shuffles on the vector id
    once.  Ties break (cosine desc, cell_id asc) — total order, so the
    assignment is retry-stable and oracle-reproducible.
    """
    x = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                  _norm(F.col(vec_col)).alias("_n"))
    scored = x.join(F.broadcast(centroids), F.lit(True)).select(
        "_id", "_v", "_n", "cell_id",
        (_dot(F.col("_v"), F.col("cell_vec"))
         / (F.col("_n") * F.col("cell_norm"))).alias("_ccos"),
    )
    w = Window.partitionBy("_id").orderBy(
        F.desc_nulls_last("_ccos"), F.asc("cell_id"))
    return scored.withColumn("_crank", F.row_number().over(w)).where(
        F.col("_crank") <= n_probe)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single home
    cell; each query probes its ``n_probe`` nearest cells and ranks only
    within them — the inverted-file ANN pattern (the second scale path
    next to hyperplane LSH; cells partition the corpus, so the probe join
    touches ~n_probe/n_cells of it per query).

    Exactly-once candidate generation: the (cell) equi-join is the only
    corpus contact; ranks are integers with total-order ties.
    Output: (query_id, vec_id, cosine, rank <= k).
    """
    cents = ivf_centroids(corpus, n_cells, seed, id_col, vec_col)
    c = ivf_assign(corpus, cents, 1, id_col, vec_col).select(
        F.col("_id").alias("vec_id"), F.col("_v").alias("cv"),
        F.col("_n").alias("cn"), "cell_id")
    q = ivf_assign(queries, cents, n_probe, query_id_col, vec_col).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("qv"),
        F.col("_n").alias("qn"), "cell_id")
    scored = q.join(c, "cell_id").select(
        "query_id", "vec_id",
        (_dot(F.col("qv"), F.col("cv"))
         / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k)
