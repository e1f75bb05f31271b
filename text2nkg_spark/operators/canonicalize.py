"""G4 — entity canonicalization: MinHash-LSH blocking + connected components.

Not present in the reference (its eval is span-identity based); mandated by
the graft north_star: mention strings are clustered into canonical entities
via MinHash-LSH candidate blocking and join-based connected components
(large-star/small-star, Kiveris et al., "Connected Components in MapReduce
and Beyond"), then facts are re-keyed to canonical entity ids.

Everything is native Spark SQL:
* shingles/minhash — ``transform``/``aggregate`` HOFs over ``md5`` (no UDF,
  no shuffle until the LSH groupBy; md5-derived so the DuckDB oracle can
  reproduce the candidate pairs and components bit-for-bit).  Node ids are
  the surface strings themselves (component = lexicographic min): any
  fixed-width hash id would silently merge unrelated surfaces near its
  birthday bound (2^26 rows for 52-bit, 2^32 for 64-bit);
* LSH banding — one groupBy per run over (band_id, band_hash);
* components — alternating star iterations, each one self-join + groupBy,
  with ``localCheckpoint`` every few rounds to cut lineage.  Iteration count
  is O(log n) — at 10^12 mentions each round is a shuffle sized by the edge
  list, which LSH keeps near-linear in input;
* entities — one ``entity_rollup`` aggregate over the mention->entity join,
  shared by the driver-side and distributed branches and by
  ``run_pipeline``'s ``entities`` stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from text2nkg_spark.session import local_frame


# distinct-surface count at or below which canonicalize_entities runs the
# whole LSH + union-find driver-side from one collect (surfaces grow far
# slower than mentions; 5k surfaces is ~100 KB)
_LOCAL_VOCAB_THRESHOLD = 5000

# shared LSH parameters — the lsh_candidate_pairs signature defaults AND
# the fused driver-side path in canonicalize_entities both read these, so
# the two branches cannot silently diverge
_SHINGLE_N = 3
_LSH_SEED = 42
_LSH_MAX_BUCKET = 4096


def exploded_min_md5(
    grams_df: DataFrame,
    id_cols: list[str],
    gram_col: str,
    num_hashes: int,
    key,
    alias: str = "_m",
) -> DataFrame:
    """Shared exploded minhash shape: one min-md5 aggregate per hash over
    exploded grams — flat codegen-friendly expressions (the nested-HOF
    variant both costs seconds of janino work per session and re-inlines
    its input under CollapseProject).  ``key(h, gram_col)`` builds the
    seed/hash-prefixed hash input.
    Output: id_cols + {alias}0..{alias}{n-1}.
    """
    aggs = [
        F.min(F.md5(key(h, F.col(gram_col)))).alias(f"{alias}{h}")
        for h in range(num_hashes)
    ]
    return grams_df.groupBy(*id_cols).agg(*aggs)


def cap_bucket_width(
    banded: DataFrame, keys: list[str], order_col: str, max_bucket: int
) -> DataFrame:
    """Truncate each bucket to its first ``max_bucket`` rows (deterministic
    ``order_col`` order).

    The LSH self-join is quadratic in bucket width; one degenerate bucket
    (a boilerplate shingle shared by millions of surfaces) becomes a single
    O(W^2) join task no AQE can split.  Truncation bounds every task at
    max_bucket^2 pairs; members of a true duplicate cluster still pair with
    each other inside the kept prefix.  The window is one extra shuffle on the same join key,
    O(W log W) per bucket — cheap insurance at 100 TB.
    """
    if max_bucket <= 0:
        return banded
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        banded.withColumn("_bkt_rn", F.row_number().over(w))
        .where(F.col("_bkt_rn") <= max_bucket)
        .drop("_bkt_rn")
    )


def char_shingles(col, n: int = 3):
    """Distinct character n-grams of a string, as an array column (HOF)."""
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    return F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.length(padded) - n, F.lit(0))),
                lambda i: padded.substr(i + 1, F.lit(n)),
            ),
            lambda s: F.length(s) == n,
        )
    )


def minhash_signature(shingles_col, num_hashes: int, seed: int = 42):
    """Array of ``num_hashes`` min-hashes: lexicographic min of md5 hex
    digests over seed/band-prefixed shingles — bit-reproducible in any
    engine with md5.

    TEST-ONLY oracle shape: production uses exploded_min_md5 (flat
    codegen-friendly expressions); tests/test_canonicalize.py asserts the
    two produce identical signatures.  Nested HOFs compile through janino
    in seconds per fresh session — never put this in a hot path."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda h: F.array_min(
            F.transform(
                shingles_col,
                lambda s: F.md5(F.concat_ws(
                    "|", F.lit(str(seed)), h.cast("string"), s)))),
    )


def _local_lsh_pair_rows(
    surfaces: list,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    jaccard_threshold: float,
    seed: int,
    max_bucket: int,
) -> list[tuple]:
    """Driver-side twin of the distributed LSH path for SMALL surface
    vocabularies — same md5 strings (hashlib md5 == Spark md5 on UTF-8),
    same band hashes, same ascending-surface bucket cap, same exact
    Jaccard verify, so the (a, b, jaccard) rows are bit-identical to the
    Spark plan's output (asserted in tests/test_canonicalize.py).  Exists
    because each distributed LSH run costs ~6 fixed-overhead Spark stages
    (~2.3 s measured for 148 surfaces at sf0.1) — the same
    size-adaptivity as connected_components' driver union-find."""
    import hashlib
    from collections import defaultdict

    rows_per_band = num_hashes // bands

    def _md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    # memoize per (hash, shingle): near-dup vocabularies (the whole point
    # of LSH) share most shingles, so this cuts hashlib calls by the
    # sharing factor
    gram_md5: dict[tuple, str] = {}

    def _gram_md5(h: int, g: str) -> str:
        v = gram_md5.get((h, g))
        if v is None:
            v = gram_md5[(h, g)] = _md5(f"{seed}|{h}|{g}")
        return v

    info: dict[str, tuple[set, list]] = {}
    for s in surfaces:
        if s is None:  # NULL surfaces: the Spark path drops them too
            continue   # (NULL shingles fail the size > 0 filter)
        p = "^" + s + "$"
        sh = list(dict.fromkeys(
            p[i:i + shingle_n]
            for i in range(max(len(p) - shingle_n, 0) + 1)
            if len(p[i:i + shingle_n]) == shingle_n))
        if not sh:
            continue
        sig = [min(_gram_md5(h, g) for g in sh)
               for h in range(num_hashes)]
        band_h = [
            _md5(",".join(sig[b * rows_per_band:(b + 1) * rows_per_band]))
            for b in range(bands)]
        info[s] = (set(sh), band_h)

    buckets: dict = defaultdict(list)
    for s, (_sh, band_h) in info.items():
        for b_id, h in enumerate(band_h):
            buckets[(b_id, h)].append(s)
    cand = set()
    for members in buckets.values():
        members.sort()
        kept = members[:max_bucket] if max_bucket > 0 else members
        for i in range(len(kept)):
            for j in range(i + 1, len(kept)):
                cand.add((kept[i], kept[j]))
    rows = []
    for a, b in cand:
        sa, sb = info[a][0], info[b][0]
        jac = len(sa & sb) / len(sa | sb)
        if jac >= jaccard_threshold:
            rows.append((a, b, jac))
    return rows


def _union_find(edge_rows: list) -> dict:
    """Path-halving union-find over (u, v) pairs -> {node: min-id root}."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def lsh_candidate_pairs(
    surfaces: DataFrame,
    surface_col: str = "surface",
    num_hashes: int = 12,
    bands: int = 6,
    shingle_n: int = _SHINGLE_N,
    jaccard_threshold: float = 0.6,
    seed: int = _LSH_SEED,
    max_bucket: int = _LSH_MAX_BUCKET,
    local_threshold: int = _LOCAL_VOCAB_THRESHOLD,
) -> DataFrame:
    """Near-duplicate surface pairs (a < b) verified by true Jaccard.

    surfaces: distinct strings, one per row.  Returns (a, b, jaccard).
    Degenerate band buckets are truncated at ``max_bucket`` rows (surface
    order) — one boilerplate bucket must not become an unsplittable
    O(W^2) join task (see cap_bucket_width).

    Size-adaptive like :func:`connected_components`: at or below
    ``local_threshold`` distinct surfaces the whole LSH runs driver-side
    (``_local_lsh_pair_rows`` — bit-identical md5/band/cap/verify semantics),
    because the distributed plan's ~6 fixed-overhead stages dwarf a
    few-thousand-entry vocabulary; above it, the shuffle plan below
    scales to any corpus.  ``local_threshold=0`` forces the distributed
    path.

    EAGER when ``local_threshold > 0``: the size probe collects
    ``local_threshold + 1`` rows AT CALL TIME, so calling this function
    triggers a (bounded) Spark job and — on the driver-side branch — the
    returned pairs are frozen as of the call, not re-derived when the
    returned DataFrame is later acted on.  Same contract as
    :func:`connected_components`; pass ``local_threshold=0`` for a fully
    lazy plan-builder.
    """
    if local_threshold > 0:
        head = surfaces.select(surface_col).limit(local_threshold + 1).collect()
        if len(head) <= local_threshold:
            rows = _local_lsh_pair_rows(
                [r[0] for r in head], num_hashes, bands, shingle_n,
                jaccard_threshold, seed, max_bucket)
            return local_frame(surfaces.sparkSession, rows,
                               "a string, b string, jaccard double")
    rows_per_band = num_hashes // bands
    sh = surfaces.select(
        F.col(surface_col).alias("s"),
        char_shingles(F.col(surface_col), shingle_n).alias("sh"),
    ).where(F.size("sh") > 0)
    # exploded minhash shape: one md5 column per hash over exploded
    # shingles + a min-aggregate, instead of num_hashes nested HOF
    # transforms.  Identical signatures — min over the same md5 strings;
    # tests/test_canonicalize.py::test_exploded_minhash_matches_hof_oracle
    # asserts equality vs the minhash_signature HOF oracle above.  The flat
    # expressions stay inside whole-stage codegen AND compile in ms, where
    # the nested-HOF tree took seconds of janino work per fresh session
    # (the dominant cold cost of the entities query)
    ex = sh.select("s", F.explode("sh").alias("g"))
    minned = exploded_min_md5(
        ex, ["s"], "g", num_hashes,
        lambda h, g: F.concat_ws("|", F.lit(str(seed)), F.lit(str(h)), g))
    sig = sh.join(minned, "s")
    banded = sig.select(
        "s", "sh",
        F.posexplode(F.array(*[
            F.md5(F.concat_ws(",", *[
                F.col(f"_m{b * rows_per_band + r}")
                for r in range(rows_per_band)]))
            for b in range(bands)])).alias("band_id", "band_hash"),
    )
    banded = cap_bucket_width(banded, ["band_id", "band_hash"], "s", max_bucket)
    pairs = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.s") < F.col("r.s")),
        )
        .select(
            F.col("l.s").alias("a"), F.col("r.s").alias("b"),
            F.col("l.sh").alias("sha"), F.col("r.sh").alias("shb"),
        )
        .dropDuplicates(["a", "b"])
    )
    verified = pairs.withColumn(
        "jaccard",
        F.size(F.array_intersect("sha", "shb"))
        / F.size(F.array_union("sha", "shb")),
    ).where(F.col("jaccard") >= jaccard_threshold)
    return verified.select("a", "b", "jaccard")


def _local_components(edge_rows: list, spark, node_type: str) -> DataFrame:
    """Driver-side union-find for small edge sets (exact same contract)."""
    roots = _union_find(edge_rows)
    rows = list(roots.items())
    return local_frame(spark, rows, f"node {node_type}, component {node_type}")


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    edges: (src, dst) undirected — long OR string node ids (min/greatest
    are ordering-generic).  Returns (node, component) where component is
    the minimum node id of the component.  Nodes absent from ``edges`` are
    their own components (callers union singletons).

    Size-adaptive: below ``local_threshold`` edges the graph collects to the
    driver for an exact union-find — each distributed star round costs
    several fixed-overhead Spark jobs, which dwarfs tiny graphs (measured
    7s for 146 nodes).  Above it, the O(log n)-round join algorithm runs;
    set local_threshold=0 to force the distributed path.
    """
    node_type = dict(edges.dtypes)["src"]
    if local_threshold > 0:
        small = edges.limit(local_threshold + 1).collect()
        if len(small) <= local_threshold:
            rows = [(r[0], r[1]) for r in small if r[0] != r[1]]
            return _local_components(rows, edges.sparkSession, node_type)

    def large_star(e: DataFrame) -> DataFrame:
        und = e.select("src", "dst").union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        withself = und.union(
            und.select("src", F.col("src").alias("dst"))).distinct()
        mins = withself.groupBy("src").agg(F.min("dst").alias("m"))
        return (
            und.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()
        withself = directed.union(
            directed.select("src", F.col("src").alias("dst")))
        mins = withself.groupBy("src").agg(F.min("dst").alias("m"))
        return (
            withself.join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _sig(df: DataFrame) -> tuple:
        # cheap fixed-point signature: count + order-insensitive xor-sum of
        # edge hashes (one aggregate instead of two exceptAll scans)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    e = e.localCheckpoint()
    prev = _sig(e)
    for it in range(max_iter):
        e2 = small_star(large_star(e)).localCheckpoint()
        cur = _sig(e2)
        e = e2
        if cur == prev:
            break
        prev = cur
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    comp = comp.groupBy("node").agg(F.min("component").alias("component"))
    roots = comp.select(F.col("component").alias("node"),
                        F.col("component").alias("component")).distinct()
    return comp.unionByName(roots).dropDuplicates(["node"])


def entity_rollup(mention_to_entity: DataFrame) -> DataFrame:
    """(entity_id, canonical_surface, n_surfaces, n_mentions) over a
    mention->entity join: canonical = the min surface, n_surfaces its
    distinct surfaces, n_mentions its mentions.  The one entities
    aggregate of both ``canonicalize_entities`` branches and of
    ``run_pipeline``'s ``entities`` stage."""
    return mention_to_entity.groupBy("entity_id").agg(
        F.min("surface").alias("canonical_surface"),
        F.countDistinct("surface").alias("n_surfaces"),
        F.count(F.lit(1)).alias("n_mentions"),
    )


def canonicalize_entities(
    mention_surfaces_df: DataFrame,
    jaccard_threshold: float = 0.6,
    num_hashes: int = 12,
    bands: int = 6,
    local_vocab_threshold: int = _LOCAL_VOCAB_THRESHOLD,
) -> dict[str, DataFrame]:
    """Full G4: mentions -> entities + mention_to_entity mapping.

    ``local_vocab_threshold=0`` forces the distributed LSH + CC branch
    (tests use it to assert both branches agree).

    mention_surfaces_df: (conv_id, turn_idx, start, end, surface).
    Returns dict with:
      * entities: (entity_id, canonical_surface, n_surfaces, n_mentions)
      * mention_to_entity: input columns + entity_id
    """
    # node id = the surface STRING itself — collision-free at any scale
    # (any fixed-width hash id silently merges unrelated surfaces once the
    # corpus approaches its birthday bound); component id = the
    # lexicographically-min surface, so entity_id doubles as a canonical
    # key and the DuckDB oracle reproduces it with plain string mins
    #
    # Size-adaptive fast path: small vocabularies (the common case —
    # distinct SURFACES grow far slower than mentions) run LSH + union-find
    # driver-side from ONE bounded distinct-surface collect, then share the
    # distributed branch's tail: the mention->entity join and the one
    # ``entity_rollup`` (tests/test_canonicalize.py asserts both branches
    # emit identical rows).
    spark = mention_surfaces_df.sparkSession
    head = (
        mention_surfaces_df.select("surface").distinct()
        .limit(local_vocab_threshold + 1).collect()
    ) if local_vocab_threshold > 0 else []
    small = local_vocab_threshold > 0 and len(head) <= local_vocab_threshold
    if small:
        surfaces = [r[0] for r in head]
        # shared _SHINGLE_N/_LSH_SEED/_LSH_MAX_BUCKET constants — the
        # same values the lsh_candidate_pairs signature defaults to, so
        # the two branches cannot drift apart
        pair_rows = _local_lsh_pair_rows(
            surfaces, num_hashes, bands, _SHINGLE_N, jaccard_threshold,
            _LSH_SEED, _LSH_MAX_BUCKET)
        roots = _union_find([(a, b) for a, b, _j in pair_rows])
        sc_rows = [(s, roots.get(s, s)) for s in surfaces if s is not None]
        surf_comp = local_frame(
            spark, sc_rows, "surface string, entity_id string")
        # lazy: one pass over the mention stream when a consumer acts on
        # it (NULL surfaces never join, on either branch)
        m2e = mention_surfaces_df.join(F.broadcast(surf_comp), "surface")
        return {"entities": entity_rollup(m2e), "mention_to_entity": m2e,
                "surface_to_entity": surf_comp, "small_vocab": True}
    # distributed path: materialize the surface stream once — three
    # consumers read it (the CC edge build, the surface->component join,
    # the mention->entity join), and without the cut each re-evaluates the
    # upstream mention-detection fold (measured ~2x the whole query's wall
    # at sf0.1).  localCheckpoint (not persist): the blocks are released
    # by the ContextCleaner when the DataFrames go out of scope.
    mention_surfaces_df = mention_surfaces_df.localCheckpoint()
    distinct_surf = (
        mention_surfaces_df.select("surface").distinct().localCheckpoint())
    pairs = lsh_candidate_pairs(
        distinct_surf, "surface",
        num_hashes=num_hashes, bands=bands,
        jaccard_threshold=jaccard_threshold,
        local_threshold=0)  # smallness already decided above — don't
    #                         re-collect the probe
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(edges)
    surf_comp = (
        distinct_surf.join(
            comp, distinct_surf["surface"] == comp["node"], "left")
        .select(
            "surface",
            F.coalesce("component", "surface").alias("entity_id"),
        )
    )
    # the distributed branch's surface->entity frame can be arbitrarily
    # large at scale and joins normally (never an unconditional broadcast)
    m2e = mention_surfaces_df.join(surf_comp, "surface")
    return {"entities": entity_rollup(m2e), "mention_to_entity": m2e,
            "surface_to_entity": surf_comp, "small_vocab": small}


def rekey_facts_to_entities(
    facts: DataFrame,
    surface_to_entity: DataFrame,
    broadcast_map: bool,
) -> DataFrame:
    """G4 final step (north_star): main-triple facts re-keyed to canonical
    entity ids — subj/obj/value surfaces joined to their components.

    One left join per endpoint column against the surface->entity map;
    unmatched surfaces (mentions outside the detected vocabulary) fall
    back to their own surface as the entity id, so the graph stays total
    and collision-free.

    ``broadcast_map`` decides the join strategy, mirroring
    :func:`canonicalize_entities`'s own branch on its mention join:

    * ``True`` — the map is known driver-small (``run_pipeline`` passes
      ``True`` when the ``surface_to_entity`` manifest's ``rows_out`` is at
      most the small-vocab threshold); force ``F.broadcast``.
    * ``False`` — the map is distinct-surface-sized and may be arbitrarily
      large at scale; join normally (shuffle, or whatever AQE picks from
      runtime sizes).  An unconditional broadcast here would OOM the
      driver at billions of distinct surfaces.
    """

    def attach(df: DataFrame, col: str) -> DataFrame:
        m = surface_to_entity.select(
            F.col("surface").alias(col),
            F.col("entity_id").alias(f"{col}_entity_id"))
        if broadcast_map:
            m = F.broadcast(m)
        return df.join(m, col, "left").withColumn(
            f"{col}_entity_id",
            F.coalesce(F.col(f"{col}_entity_id"), F.col(col)))

    out = facts
    for col in ("subj", "obj", "value"):
        if col in facts.columns:
            out = attach(out, col)
    return out
