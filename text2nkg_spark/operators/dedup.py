"""Deduplication operators for large-scale training-data pipelines.

All four families are native Spark SQL (no UDFs), designed so every shuffle
is keyed and bounded:

* exact        — hash-groupBy on normalized content; one shuffle.
* MinHash-LSH  — word-shingle minhash signatures -> banded buckets ->
                 bucket-join candidates -> exact-Jaccard verify.  md5-based
                 hashing (not xxhash) so a DuckDB oracle can reproduce the
                 signatures byte-for-byte.
* SimHash      — 52-bit weighted sign-hash over md5-derived token hashes
                 (so a DuckDB oracle reproduces every fingerprint);
                 near-dup candidates share one of four 13-bit chunks
                 (pigeonhole: exact recall for Hamming<=3).
* n-gram Jaccard — exact pairwise Jaccard within cheap blocks
                 (language + length bucket) for corpora where the pair count
                 per block stays bounded.

At 100 TB: LSH and SimHash are the scale paths (near-linear); the banded
self-joins are the only wide ops.  Every pair generator bounds its bucket
width: ``max_bucket`` truncates degenerate LSH buckets (one shingle shared
by millions of docs would otherwise become a single quadratic join task),
and embedding near-dup blocks on a hyperplane-LSH bucket by default so no
hot label can turn the self-join quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# exploded_min_md5 / cap_bucket_width live with their NKG caller
# (canonicalize) and are shared from there
from text2nkg_spark.operators.canonicalize import (  # noqa: F401
    cap_bucket_width, exploded_min_md5)
from text2nkg_spark.operators.similarity import hyperplane_bucket
from text2nkg_spark.plans.manifest import md5_hash52


# The one whitespace definition, pinned to an explicit class: Java's \s
# and DuckDB's RE2 \s disagree on \x0B (vertical tab — Java includes it,
# RE2 does not), which would break hash-exact oracle parity on dirty
# docs.  The OUTER trim runs after the collapse, so leading/trailing
# non-space whitespace ("\thello") cannot leave an empty leading token
# when the normalized text is split on ' ' (bare trim strips ASCII
# spaces only).  Every engine tokenization and every DuckDB oracle
# mirrors this exact form — change them together or nothing matches.
_WS_CLASS = r"[ \t\n\r\f\x0B]+"


def normalize_text(col):
    return F.trim(F.regexp_replace(F.lower(col), _WS_CLASS, " "))


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) docs: (content_hash, doc_ids,
    n_dups, keeper) with keeper = min id."""
    return (
        df.select(F.col(id_col).alias("doc_id"),
                  F.md5(normalize_text(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("n_dups") > 1)
    )


def word_shingles_from_tokens(tok_col, n: int = 3):
    """Distinct word n-grams from an ALREADY-MATERIALIZED token array column.

    IMPORTANT: pass a real column (``withColumn('toks', split(...))``), not
    an expression — Catalyst inlines expression arguments into every
    ``element_at`` lookup, re-evaluating the tokenization once per shingle
    position (quadratic; measured 10-50x slowdowns)."""

    def gram(i):
        parts = [F.element_at(tok_col, i + off) for off in range(n)]
        return F.concat_ws(" ", *parts)

    return F.when(
        F.size(tok_col) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tok_col) - (n - 1)), gram)),
    ).otherwise(F.array().cast("array<string>"))


def with_norm_tokens(df: DataFrame, text_col: str, out: str = "_toks") -> DataFrame:
    return df.withColumn(out, F.split(normalize_text(F.col(text_col)), " "))


def word_shingles(col, n: int = 3):
    """Shingles directly from a text expression — convenience wrapper; for
    hot paths materialize tokens and use word_shingles_from_tokens."""
    return word_shingles_from_tokens(F.split(normalize_text(col), " "), n)


def md5_minhash_signature(shingles_col, num_hashes: int):
    """MinHash via md5 over seed-prefixed shingles (lexicographic min of hex
    digests) — bit-reproducible in any engine with md5."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda h: F.array_min(
            F.transform(
                shingles_col,
                lambda s: F.md5(F.concat(h.cast("string"), F.lit("|"), s)))),
    )


def exploded_word_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    extra_cols: tuple = (),  # of (alias, Column) pairs carried through
) -> DataFrame:
    """(doc_id, *extra_cols, gram) — one row per word n-gram position.

    The whole-stage-codegen n-gram shape shared by minhash signatures and
    exact n-gram Jaccard: posexplode tokens + window-lead columns + null
    tail filter.  The HOF formulation is 15-30x slower because (a) HOF
    lambdas evaluate interpreted and (b) Catalyst's CollapseProject
    re-inlines the tokenization expression into EVERY element_at lookup,
    re-splitting the text once per shingle position.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        *[expr.alias(name) for name, expr in extra_cols],
        F.posexplode(
            F.split(normalize_text(F.col(text_col)), " ")).alias("pos", "t"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, n)]
    return tok.select(
        "doc_id", *[name for name, _e in extra_cols],
        F.concat_ws(" ", *leads).alias("gram"),
        leads[-1].alias("_last"),
    ).where(F.col("_last").isNotNull()).drop("_last")


def md5_minhash_signatures_exploded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 2,
) -> DataFrame:
    """Same signatures as :func:`md5_minhash_signature` via the exploded
    n-gram shape (see exploded_word_ngrams).  Shingle duplicates don't
    affect min aggregation, so signatures are identical to the
    array_distinct variant.

    Scale note: the window shuffles by doc_id (token-count rows); the
    combiner-style min aggregation reduces each partition to
    |ids| x num_hashes rows before the final shuffle.

    Output: (doc_id, sig0..sig{n-1}).
    """
    grams = exploded_word_ngrams(df, id_col, text_col, shingle_n)
    return exploded_min_md5(
        grams, ["doc_id"], "gram", num_hashes,
        lambda h, g: F.concat(F.lit(f"{h}|"), g), alias="sig")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-duplicate pairs (a < b, jaccard) via MinHash-LSH."""
    rows = num_hashes // bands
    base = (
        with_norm_tokens(df, text_col)
        .select(
            F.col(id_col).alias("doc_id"),
            word_shingles_from_tokens(F.col("_toks"), shingle_n).alias("sh"))
        .where(F.size("sh") > 0)
    )
    sig = base.withColumn("sig", md5_minhash_signature(F.col("sh"), num_hashes))
    banded = sig.select(
        "doc_id", "sh",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.array_join(F.slice(F.col("sig"), b * rows + 1, rows), ",")),
            )
        ).alias("band_id", "band_hash"),
    )
    banded = cap_bucket_width(
        banded, ["band_id", "band_hash"], "doc_id", max_bucket)
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                F.col("l.sh").alias("sha"), F.col("r.sh").alias("shb"))
        .dropDuplicates(["a", "b"])
    )
    return (
        cand.withColumn(
            "jaccard",
            F.size(F.array_intersect("sha", "shb"))
            / F.size(F.array_union("sha", "shb")),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", "jaccard")
    )


SIMHASH_BITS = 52  # 13 hex chars of md5 — exactly float64-representable,
SIMHASH_CHUNKS = 4  # so the DuckDB oracle reproduces every fingerprint


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, sh) 52-bit SimHash fingerprints.

    Shape: explode tokens -> md5_hash52 per token (computed ONCE, codegen)
    -> one groupBy with 52 conditional-sum bit votes -> fingerprint
    projection.  This is the whole-stage-codegen formulation: the HOF
    fold variant re-evaluates the token hash array once per bit after
    CollapseProject inlining (memory: 10-50x slower)."""
    tok = with_norm_tokens(df, text_col).select(
        F.col(id_col).alias("doc_id"), F.explode("_toks").alias("t"))
    h = tok.select("doc_id", md5_hash52(F.col("t")).alias("h"))
    one = F.lit(1).cast("long")
    # per-bit set-counts (plain sums keep the 52-agg groupBy inside
    # whole-stage codegen); majority vote = 2*cnt > n
    votes = h.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(F.shiftrightunsigned("h", b).bitwiseAND(one)).alias(f"c{b}")
          for b in range(SIMHASH_BITS)],
    )
    # Fingerprint assembly as ONE fold over the 52 majority votes.  This is
    # a deliberate exception to the "HOFs are the slow path" rule: the HOF
    # runs on |docs| one-row-per-doc AGGREGATE OUTPUT (52 interpreted ops
    # per document — noise next to the token-level agg above), while the
    # chained 52-term when()+add projection it replaces cost ~0.7 s of
    # DRIVER-side Catalyst/janino work per fresh query (measured sf0.1:
    # 1.40 s -> 0.86 s fresh; balanced add trees and concat/conv variants
    # measured WORSE, 1.7 s).  Planning cost, not execution — reused-plan
    # runs were 0.39 s either way.  Values are bit-identical: exact integer
    # arithmetic, same term order.
    carr = F.array(*[F.col(f"c{b}") for b in range(SIMHASH_BITS)])
    parr = F.array(
        *[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    sh = F.aggregate(
        F.zip_with(
            carr, parr,
            lambda c, p: F.when(c * 2 > F.col("_n"), p)
            .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return votes.select("doc_id", sh.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 4096,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 13-bit chunks
    (pigeonhole guarantees recall for Hamming <= 3 WITHIN buckets below the
    max_bucket cap — a wider chunk bucket is truncated, see
    cap_bucket_width), verified by exact Hamming distance via bit_count.
    The DuckDB oracle mirrors the cap with an identically-keyed QUALIFY.

    EAGER: the capped chunk table is localCheckpoint-ed before the
    self-join (see inline note), so calling this function runs the
    fingerprint job at call time and the returned pairs are frozen as of
    the call — the same contract as lsh_candidate_pairs."""
    base = simhash_fingerprints(df, id_col, text_col)
    width = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << width) - 1
    chunks = base.select(
        "doc_id", "sh",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned("sh", c * width)
                .bitwiseAND(F.lit(mask).cast("long"))
                for c in range(SIMHASH_CHUNKS)
            ])
        ).alias("chunk_id", "chunk"),
    )
    chunks = cap_bucket_width(
        chunks, ["chunk_id", "chunk"], "doc_id", max_bucket)
    # EAGER: localCheckpoint materializes the capped chunk table ONCE
    # before the self-join — the fingerprint pipeline above (full token
    # scan + 52-vote aggregate) otherwise executes once PER JOIN SIDE
    # (no ReusedExchange under AQE here, verified in the plan) and its
    # plan subtree is analyzed twice.  At 100 TB the corpus scan is the
    # dominant cost, so computing it once is the correct shape; the
    # materialized frame is 4 rows/doc of (id, fingerprint, chunk).
    # Same call-time-execution contract as lsh_candidate_pairs /
    # connected_components (documented eager semantics).
    chunks = chunks.localCheckpoint()
    cand = (
        chunks.alias("l")
        .join(
            chunks.alias("r"),
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                F.col("l.sh").alias("sha"), F.col("r.sh").alias("shb"))
    )
    # verify-then-dedup: the Hamming check is a per-row bitwise op on the
    # joined row, so running it BEFORE dropDuplicates shrinks the dedup
    # shuffle to verified pairs only (duplicate (a, b) rows carry
    # identical fingerprints, so filter-then-dedup == dedup-then-filter).
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
        .select("a", "b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    n: int = 2,
    threshold: float = 0.4,
    length_bucket: int = 64,
    max_bucket: int = 1024,
) -> DataFrame:
    """Exact word-n-gram Jaccard within (block_cols, length-bucket) blocks.

    Shingle arrays are built with the shared exploded n-gram shape
    (exploded_word_ngrams — whole-stage codegen; the HOF formulation
    re-splits the text once per shingle after CollapseProject inlining,
    measured ~3x slower at sf0.1), so each doc's gram set is materialized
    exactly once before the blocked self-join.

    ``max_bucket`` truncates each (block_cols, lb) block to its first
    max_bucket docs (doc_id order) before the self-join — the same
    cap_bucket_width guard every other pair generator gets.  Unlike LSH
    band buckets these blocks are DATA-keyed (one hot (lang, length)
    combination at 100 TB is millions of docs → an unsplittable O(W^2)
    join task), so the cap is load-bearing here; route wider blocks
    through minhash_lsh_pairs when full recall inside a hot block
    matters.  0 disables."""
    extra = tuple((c, F.col(c)) for c in block_cols) + (
        ("lb", (F.length(F.col(text_col)) / length_bucket).cast("int")),)
    grams = exploded_word_ngrams(df, id_col, text_col, n, extra)
    base = (
        grams.groupBy("doc_id", *block_cols, "lb")
        .agg(F.array_distinct(F.collect_list("gram")).alias("sh"))
        .where(F.size("sh") > 0)
    )
    keys = list(block_cols) + ["lb"]
    base = cap_bucket_width(base, keys, "doc_id", max_bucket)
    cond = (F.col("l.doc_id") < F.col("r.doc_id"))
    for c in keys:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    # exact size-ratio pruning: J(A,B) >= t implies t*|B| <= |A| and
    # t*|A| <= |B| — a cheap int predicate evaluated before the expensive
    # per-pair intersection, never changing the result set
    cond = cond & (F.size(F.col("l.sh")) * threshold <= F.size(F.col("r.sh")))
    cond = cond & (F.size(F.col("r.sh")) * threshold <= F.size(F.col("l.sh")))
    pairs = (
        base.alias("l").join(base.alias("r"), cond)
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                F.col("l.sh").alias("sha"), F.col("r.sh").alias("shb"))
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.size(F.array_intersect("sha", "shb"))
            / F.size(F.array_union("sha", "shb")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    lsh_planes: int = 8,
    lsh_seed: int = 42,
    lsh_dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: cosine >= threshold within blocks.

    The dot product / norms are ``aggregate``/``zip_with`` HOFs — JVM-side,
    no UDF.  The DEFAULT block key is a hyperplane-LSH bucket
    (similarity.hyperplane_bucket): unlike a data column such as ``label``
    — where one hot value turns the self-join quadratic — bucket occupancy
    is hash-distributed, so the join stays near-linear at any scale.
    ``block_col`` narrows further (optional extra key); ``lsh_planes=0``
    disables bucketing for small exact runs.  Candidates with cosine >=
    ~0.95 land in the same bucket with P ~= (1 - acos(0.95)/pi)^planes;
    run a second seed and union for higher recall.
    """
    norm = F.sqrt(F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x))
    bucket_cols = (
        [hyperplane_bucket(vec_col, lsh_planes, lsh_seed,
                           lsh_dim).alias("_bkt")]
        if lsh_planes > 0 else [])
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        *([F.col(block_col)] if block_col else []),
        *bucket_cols,
        F.col(vec_col).alias("v"),
        norm.alias("nrm"),
    ).where(F.col("nrm") > 0)
    cond = F.col("l.vec_id") < F.col("r.vec_id")
    if lsh_planes > 0:
        cond = cond & (F.col("l._bkt") == F.col("r._bkt"))
    if block_col:
        cond = cond & (F.col(f"l.{block_col}") == F.col(f"r.{block_col}"))
    pairs = base.alias("l").join(base.alias("r"), cond)
    dot = F.aggregate(
        F.zip_with(F.col("l.v"), F.col("r.v"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, x: a + x)
    return (
        pairs.select(
            F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"),
            (dot / (F.col("l.nrm") * F.col("r.nrm"))).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Near-duplicate CLUSTER materialization — the step every dedup
    pipeline ends with: pair edges (from any generator above) -> connected
    components -> one keeper per cluster.

    Components run on the alternating-star machinery from
    operators/canonicalize (size-adaptive: driver union-find for small
    graphs, O(log n) join rounds at scale); docs absent from the pair
    graph are their own singleton clusters via a left join.  The keeper
    is the cluster's minimum doc id — deterministic, retry-stable, and
    reproducible by a recursive-CTE oracle.

    Output: (doc_id, cluster_id, is_keeper) for EVERY corpus doc;
    filtering ``is_keeper`` is the dedup keep-list, anti-joining it is
    the drop-list.
    """
    from text2nkg_spark.operators.canonicalize import connected_components

    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    comp = connected_components(edges)
    ids = corpus.select(F.col(id_col).alias("doc_id")).distinct()
    out = ids.join(
        comp.select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id")),
        "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        (F.coalesce(F.col("cluster_id"), F.col("doc_id"))
         == F.col("doc_id")).alias("is_keeper"))


def edit1_fuzzy_pairs(
    df: DataFrame,
    key_col: str = "surface",
    max_bucket: int = 64,
) -> DataFrame:
    """Edit-distance-1 candidate join (SymSpell / deletion-neighborhood
    blocking) — the fuzzy string matcher behind entity resolution and
    typo-tolerant dedup: pairs of DISTINCT strings with Levenshtein
    distance exactly 1, found WITHOUT an all-pairs comparison.

    Blocking: each string emits itself plus its single-character-deletion
    variants; two strings at distance 1 (one insertion/deletion, or one
    substitution) always share a variant, so an equi-join on the variant
    sees every true pair — and only near-misses (some distance-2 pairs
    also collide; the final ``levenshtein <= 1`` filter drops them, on
    candidate pairs only, never all pairs).  Work is bounded by
    (len + 1) variants per string and ``max_bucket``^2 per variant
    bucket (cap_bucket_width — same guard as every LSH family here), so
    a degenerate variant shared by millions of strings cannot schedule
    an unsplittable quadratic task.  At 100 TB this is the shape: explode
    ~L rows per string, one hash join, one bounded verify.

    Output: ``(key_a, key_b)`` with ``key_a < key_b``, distinct.

    EAGER: the capped variant table is localCheckpoint-ed at call time —
    it feeds BOTH self-join sides, and without the lineage cut the
    distinct + explode + cap pipeline executes once per side (measured
    3x cold / 1.15x warm at sf0.1; same pattern as simhash_pairs).
    """
    s = (
        df.select(F.col(key_col).cast("string").alias("k"))
        .where(F.col(key_col).isNotNull() & (F.length(key_col) > 0))
        .distinct()
    )
    # self + single-deletion variants; the lambda builds
    # concat(prefix_of_i, suffix_from_i+2) per 0-based position i
    variants = s.select(
        "k",
        F.explode(F.expr(
            "array_union(array(k), transform(sequence(0, length(k) - 1),"
            " i -> concat(substring(k, 1, i), substring(k, i + 2))))"
        )).alias("var"))
    capped = cap_bucket_width(variants, ["var"], "k", max_bucket)
    capped = capped.localCheckpoint()
    a = capped.select(F.col("var"), F.col("k").alias("key_a"))
    b = capped.select(F.col("var"), F.col("k").alias("key_b"))
    return (
        a.join(b, "var")
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
        .where(F.levenshtein("key_a", "key_b") <= 1)
    )
