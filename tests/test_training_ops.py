"""Training-data pipeline operators over the driver-provided testdata."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from text2nkg_spark.operators.dedup import (
    embedding_cosine_pairs, exact_duplicates, minhash_lsh_pairs,
    ngram_jaccard_pairs, simhash_pairs, word_shingles)
from text2nkg_spark.operators.similarity import brute_force_topk, lsh_topk
from text2nkg_spark.operators.textstats import (
    detect_language, fingerprint, quality_features, token_counts)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist on teardown (see tests/test_sampling.py: a lingering raw-
    # parquet cache poisons the session's later plan-pruning assertions)
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_exact_duplicates(spark, docs):
    # duplicate a few docs explicitly
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    groups = exact_duplicates(docs.unionByName(dup)).collect()
    assert len(groups) >= 5
    for g in groups:
        assert g.n_dups >= 2 and g.keeper == min(g.doc_ids)


def test_minhash_pairs_vs_exact_jaccard(spark, docs):
    pairs = minhash_lsh_pairs(docs.limit(200), jaccard_threshold=0.3)
    rows = pairs.collect()
    # verify every reported jaccard against a python recomputation
    texts = {r.doc_id: r.text for r in docs.limit(200).collect()}

    def jac(a, b, n=3):
        def sh(t):
            toks = " ".join(t.lower().split()).split(" ")
            return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        sa, sb = sh(a), sh(b)
        return len(sa & sb) / len(sa | sb)

    for r in rows:
        assert abs(r.jaccard - jac(texts[r.a], texts[r.b])) < 1e-9
        assert r.jaccard >= 0.3


def test_simhash_pairs(spark, docs):
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    pairs = simhash_pairs(docs.limit(50).unionByName(dup)).collect()
    found = {(r.a, r.b) for r in pairs}
    for i in range(3):
        assert (i, i + 100000) in found
    for r in pairs:
        assert r.hamming <= 3


def test_ngram_jaccard_blocked(spark, docs):
    pairs = ngram_jaccard_pairs(
        docs.limit(300), block_cols=("lang",), n=2, threshold=0.5)
    for r in pairs.limit(20).collect():
        assert r.jaccard >= 0.5


def test_embedding_near_dup_and_topk(spark, emb):
    pairs = embedding_cosine_pairs(emb, threshold=0.9)
    assert pairs.count() >= 0  # runs and is finite
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=5)
    rows = exact.collect()
    assert len(rows) == 15
    # each query's own vector is its top-1 with cosine ~ 1
    top1 = {r.query_id: (r.vec_id, r.cosine) for r in rows if r.rank == 1}
    for qid, (vid, cos) in top1.items():
        assert vid == qid and abs(cos - 1.0) < 1e-6

    approx = lsh_topk(emb, queries, k=5).collect()
    a_top1 = {r.query_id: r.vec_id for r in approx if r.rank == 1}
    for qid, vid in a_top1.items():
        assert vid == qid  # same-bucket self always found


def test_lsh_multi_probe_recall(spark, emb):
    """Multi-probe (flip one hyperplane) strictly widens the candidate set,
    so recall@k vs exact brute force is monotone in the probe count and
    materially above single-probe on this corpus."""
    queries = emb.limit(20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}

    def recall(m):
        got = {(r.query_id, r.vec_id)
               for r in lsh_topk(emb, queries, k=5, multi_probe=m).collect()}
        return len(got & exact) / len(exact)

    r0, r4, r8 = recall(0), recall(4), recall(8)
    assert r0 <= r4 + 1e-9 and r4 <= r8 + 1e-9, (r0, r4, r8)
    assert r8 >= r0 + 0.05, (r0, r8)  # probing genuinely adds recall here
    # the query's own vector always survives (same bucket, cosine 1)
    own = {(r.query_id, r.vec_id)
           for r in lsh_topk(emb, queries, k=5, multi_probe=4).collect()
           if r.rank == 1}
    assert all(q == v for q, v in own)


def test_lsh_margin_probes_beat_uniform_flips(spark, emb):
    """The margin-ordered probe rule (flip the planes with the smallest
    |projection| first) reaches recall >= the r2 uniform plane-0..m-1 flip
    at every equal probe count — the classic multi-probe refinement."""
    from pyspark.sql import Window
    from text2nkg_spark.operators.similarity import (
        _dot, _norm, hyperplane_bucket)

    # queries = perturbed corpus vectors, so each query HAS genuinely close
    # neighbors — the regime multi-probe exists for.  (On structure-less
    # random vectors the margin rule is provably no better than any flip
    # choice: the true top-k are near-orthogonal, measured here first.)
    rows = emb.limit(40).collect()
    rng = np.random.default_rng(5)
    qrows = []
    for r in rows:
        v = np.array(r.embedding, dtype=np.float32)
        q = v + (0.10 * rng.standard_normal(v.shape).astype(np.float32)
                 * np.linalg.norm(v) / np.sqrt(len(v)))
        qrows.append((int(r.vec_id), [float(x) for x in q]))
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<float>")
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}

    def uniform_lsh(m, k=5, planes=8):
        # the replaced r2 probe rule, kept here as the comparison baseline
        c = emb.select(
            F.col("vec_id"), F.col("embedding").alias("cv"),
            _norm(F.col("embedding")).alias("cn"),
            hyperplane_bucket(F.col("embedding"), planes).alias("bucket"))
        base = hyperplane_bucket(F.col("embedding"), planes)
        probes = F.array(base, *[base.bitwiseXOR(F.lit(1 << p).cast("long"))
                                 for p in range(m)])
        q = queries.select(
            "query_id", F.col("embedding").alias("qv"),
            _norm(F.col("embedding")).alias("qn"),
            F.explode(probes).alias("bucket"))
        s = q.join(c, "bucket").select(
            "query_id", "vec_id",
            (_dot(F.col("qv"), F.col("cv"))
             / (F.col("qn") * F.col("cn"))).alias("cosine")
        ).dropDuplicates(["query_id", "vec_id"])
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("vec_id"))
        return s.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k)

    def recall(df):
        got = {(r.query_id, r.vec_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    margins = {m: recall(lsh_topk(emb, queries, k=5, multi_probe=m))
               for m in (1, 2, 4)}
    uniforms = {m: recall(uniform_lsh(m)) for m in (1, 2, 4)}
    for m in (1, 2, 4):
        assert margins[m] >= uniforms[m] - 1e-9, (m, margins, uniforms)
    # ...and strictly better somewhere, not merely tied everywhere
    assert sum(margins.values()) > sum(uniforms.values()), (
        margins, uniforms)
    # at m = planes both probe every single-bit flip: identical recall
    assert abs(recall(lsh_topk(emb, queries, k=5, multi_probe=8))
               - recall(uniform_lsh(8))) < 1e-9


def test_hyperplane_literal_dim_path_bit_identical(spark, emb):
    """The dim-folded literal-weight path emits bit-identical buckets AND
    probe arrays to the inline-md5 path (same md5 floats, same fold
    order), and a mismatched dim fails loudly instead of null-bucketing."""
    from pyspark.sql.utils import PythonException

    from text2nkg_spark.operators.similarity import (
        _margin_probes, hyperplane_bucket)

    sub = emb.limit(50)
    dim = len(sub.select("embedding").first()[0])
    a = sub.select(
        "vec_id", hyperplane_bucket(F.col("embedding"), 8, 42).alias("b"),
        _margin_probes(F.col("embedding"), 8, 42, 3).alias("p")).collect()
    b = sub.select(
        "vec_id",
        hyperplane_bucket(F.col("embedding"), 8, 42, dim=dim).alias("b"),
        _margin_probes(F.col("embedding"), 8, 42, 3, dim=dim).alias("p")
    ).collect()
    assert sorted((r.vec_id, r.b, tuple(r.p)) for r in a) == \
        sorted((r.vec_id, r.b, tuple(r.p)) for r in b)
    import pytest as _pytest
    with _pytest.raises(Exception, match="dim mismatch"):
        sub.select(hyperplane_bucket(
            F.col("embedding"), 8, 42, dim=dim + 1)).collect()
    # NULL vectors degrade exactly like the inline path (no raise)
    dirty = spark.createDataFrame(
        [(1, [0.5] * dim), (2, None)], f"vec_id long, embedding array<float>")
    got = dirty.select(
        "vec_id",
        hyperplane_bucket(F.col("embedding"), 8, 42, dim=dim).alias("bd"),
        hyperplane_bucket(F.col("embedding"), 8, 42).alias("bi")).collect()
    assert all(r.bd == r.bi for r in got)


def test_margin_probe_planes_match_numpy_argsort(spark, emb):
    """Deterministic property: the m flipped buckets are base XOR the m
    planes with the smallest |projection|, margins recomputed independently
    in numpy from the same md5-derived weights."""
    import hashlib

    rows = emb.limit(6).collect()
    planes, seed, m = 8, 42, 3

    def w(p, i):
        h = hashlib.md5(f"{p}|{i}|{seed}".encode()).hexdigest()[:13]
        return float(int(h, 16) - (1 << 51))

    from text2nkg_spark.operators.similarity import _margin_probes

    got = {
        r.vec_id: list(r.probes)
        for r in emb.limit(6).select(
            "vec_id",
            _margin_probes(F.col("embedding"), planes, seed, m)
            .alias("probes")).collect()}
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        projs = np.array(
            [sum(float(x) * w(p, i) for i, x in enumerate(v))
             for p in range(planes)])
        base = sum((1 << p) for p in range(planes) if projs[p] > 0)
        order = sorted(range(planes), key=lambda p: (abs(projs[p]), p))
        want = [base] + [base ^ (1 << p) for p in order[:m]]
        assert got[r.vec_id] == want, (r.vec_id, got[r.vec_id], want)


def test_topk_python_oracle(spark, emb):
    sub = emb.limit(100).cache()  # unpersisted in the finally below
    try:
        queries = sub.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
        got = brute_force_topk(sub, queries, k=3).collect()
        # non-vacuous: both queries present, k rows each
        assert {r.query_id for r in got} == {0, 1} and len(got) == 6
        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in sub.collect()}
        for qid in {r.query_id for r in got}:
            q = vecs[qid]
            cos = {
                vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
                for vid, v in vecs.items()
            }
            want = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
            mine = sorted(
                [(r.vec_id, r.cosine) for r in got if r.query_id == qid],
                key=lambda kv: (-kv[1], kv[0]))  # match the operator's tiebreak
            assert [w[0] for w in want] == [m[0] for m in mine]
            for w, m in zip(want, mine):
                assert abs(w[1] - m[1]) < 1e-9

    finally:
        sub.unpersist()


def test_textstats(spark, docs):
    out = token_counts(quality_features(detect_language(docs)))
    out = fingerprint(out)
    row = out.first()
    assert row.n_tokens > 0 and 0 <= row.punct_ratio <= 1
    assert row.ws_tokens == len(row.text.split())
    assert row.lang_pred in ("en", "de", "es", "fr", "und")
    # deterministic fingerprints
    a = {r.doc_id: (r.fp_min, r.fp_max, r.fp_xor) for r in out.limit(20).collect()}
    b = {r.doc_id: (r.fp_min, r.fp_max, r.fp_xor)
         for r in fingerprint(docs.limit(20)).collect()}
    for k in b:
        assert a[k] == b[k]


def test_repetition_stats_planted(spark):
    """Known inputs: top gram counts, tie-break to the lexicographically
    smallest gram, and exact fractions."""
    from text2nkg_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "b b a a c"),        # tie at 2: top word = 'a' (lex min)
         (2, "x y x y x"),        # top word x(3); top bigram 'x y'(2)
         (3, "solo"),             # one word: no bigrams -> NULLs
         (4, "   "),              # whitespace-only: NO row (not a
         (5, ""),                 # maximally-"diverse" 1-word doc) —
         (6, "\t\n \t")],         # incl. tab/newline-only (bare trim()
        "doc_id long, text string")  # strips only ASCII spaces)
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].top_word == "a" and out[1].top_word_n == 2
    assert out[1].n_words == 5 and out[1].n_distinct_words == 3
    assert out[1].top_word_frac == 2 / 5
    assert out[2].top_word == "x" and out[2].top_word_n == 3
    assert out[2].top_bigram == "x y" and out[2].top_bigram_n == 2
    assert out[2].n_bigrams == 4 and out[2].top_bigram_frac == 0.5
    assert out[3].n_words == 1 and out[3].top_bigram is None
    assert out[3].n_bigrams is None and out[3].top_bigram_frac is None


def test_contamination_overlap_planted(spark):
    """A doc sharing a trigram window with the benchmark reports exactly
    the overlapping fraction; a disjoint doc reports 0; short docs drop."""
    from text2nkg_spark.operators.textstats import contamination_overlap

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string")
    cand = spark.createDataFrame(
        [(1, "quick brown fox runs away"),   # shares 'quick brown fox'
         (2, "totally different words here"),
         (3, "too short")],                  # < 3 words: no shingles
        "doc_id long, text string")
    out = {r.doc_id: r
           for r in contamination_overlap(cand, bench, n=3).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_shingles == 3 and out[1].n_overlap == 1
    assert out[1].overlap_frac == 1 / 3 and not out[1].contaminated
    assert out[2].n_overlap == 0 and out[2].overlap_frac == 0.0


def test_contamination_bench_side_broadcasts(spark, docs):
    """The benchmark shingle set must BROADCAST — the corpus side never
    shuffles for the membership probe (the 100 TB shape: eval sets are
    MBs, the corpus is not)."""
    from text2nkg_spark.operators.textstats import contamination_overlap

    bench = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    cand = docs.where(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    plan = (contamination_overlap(cand, bench)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_clusters_transitive_and_singletons(spark):
    from pyspark.sql import functions as F

    from text2nkg_spark.operators.dedup import dedup_clusters

    corpus = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 1-2-3 (transitive closure), pair 5-6, docs 0 and 4 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a long, b long")
    got = {r.doc_id: (r.cluster_id, r.is_keeper)
           for r in dedup_clusters(pairs, corpus).collect()}
    assert got == {
        0: (0, True), 1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (5, True), 6: (5, False)}
    # keep-list = exactly one doc per cluster
    keepers = [d for d, (_c, k) in got.items() if k]
    assert sorted(keepers) == [0, 1, 4, 5]


def test_normalize_text_pinned_whitespace(spark):
    """ADVICE r5: (a) trim runs AFTER the whitespace collapse so leading
    non-space whitespace can't leave an empty leading token; (b) the
    whitespace class is pinned to [ \\t\\n\\r\\f\\x0B] so Java regex and
    DuckDB RE2 agree on \\x0B (RE2's \\s excludes vertical tab).  Both
    engines normalize a dirty doc to the same token list."""
    import duckdb

    from text2nkg_spark.operators.dedup import normalize_text

    dirty = [
        (1, "\thello"),              # leading tab: no empty token
        (2, "a\x0bb"),               # vertical tab IS a separator
        (3, "  x \n y\f"),           # mixed runs collapse, edges trim
        (4, "\t\n \x0b"),            # whitespace-only -> ''
    ]
    df = spark.createDataFrame(dirty, "doc_id long, text string")
    got = {r.doc_id: r.norm for r in df.select(
        "doc_id", normalize_text(F.col("text")).alias("norm")).collect()}
    assert got == {1: "hello", 2: "a b", 3: "x y", 4: ""}

    con = duckdb.connect()
    for doc_id, text in dirty:
        duck = con.execute(
            "SELECT trim(regexp_replace(lower(?), "
            "'[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))", [text]).fetchone()[0]
        assert duck == got[doc_id], (doc_id, duck, got[doc_id])


def test_pii_scrub_planted(spark):
    from text2nkg_spark.operators.textstats import pii_scrub

    rows = [
        (1, "write to a.b_c%x+1@mail-host.example.org today"),
        (2, "call 555-867-5309 or 415-555-0000 now"),
        (3, "both x@y.io and 111-222-3333 appear"),
        (4, "clean text, no pii at all; 12-34 and a@b stay"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_emails, r.n_phones, r.redacted)
           for r in pii_scrub(df).collect()}
    assert got[1] == (1, 0, "write to <EMAIL> today")
    assert got[2] == (0, 2, "call <PHONE> or <PHONE> now")
    assert got[3] == (1, 1, "both <EMAIL> and <PHONE> appear")
    # partial look-alikes (no TLD, short digit groups) stay untouched
    assert got[4] == (0, 0, rows[3][1])


def test_edit1_fuzzy_pairs_semantics(spark):
    from text2nkg_spark.operators.dedup import edit1_fuzzy_pairs

    rows = [("cat",), ("bat",), ("cats",), ("at",), ("dog",),
            ("cat",),          # duplicate input string: pairs stay distinct
            ("",), (None,)]    # empty/NULL keys dropped
    df = spark.createDataFrame(rows, "surface string")
    got = {(r.key_a, r.key_b)
           for r in edit1_fuzzy_pairs(df, "surface").collect()}
    # substitution (cat~bat) and single insertions (cat~cats, at~cat,
    # at~bat); nothing pairs with dog; cats~at is distance 2 -> excluded
    assert got == {("bat", "cat"), ("cat", "cats"), ("at", "cat"),
                   ("at", "bat")}


def test_edit1_fuzzy_pairs_match_brute_force(spark):
    from itertools import combinations

    from text2nkg_spark.operators.dedup import edit1_fuzzy_pairs

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = [f"w{i}x{i % 7}" for i in range(30)] + [
        "alpha", "alpah", "alpha1", "lpha", "beta", "betta"]
    expect = {(a, b) for a, b in combinations(sorted(set(words)), 2)
              if lev(a, b) == 1}
    df = spark.createDataFrame([(w,) for w in words], "surface string")
    got = {(r.key_a, r.key_b)
           for r in edit1_fuzzy_pairs(df, "surface").collect()}
    assert got == expect
