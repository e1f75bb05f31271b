"""G4 — MinHash-LSH blocking + connected components."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from text2nkg_spark.operators.canonicalize import (
    canonicalize_entities, char_shingles, connected_components,
    lsh_candidate_pairs)


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # path-compress fully, then map each node to min of its component
    comp = {}
    for x in range(n_nodes):
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for r, members in comp.items() for x in members}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_vs_union_find(spark, seed):
    rng = np.random.default_rng(seed)
    n = 60
    m = 80
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2))
             if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    # exercise BOTH paths: distributed star algorithm and local union-find
    got = {
        (r.node, r.component)
        for r in connected_components(df, local_threshold=0).collect()
    }
    got_local = {
        (r.node, r.component)
        for r in connected_components(df).collect()
    }
    assert got == got_local
    want_map = _union_find(n, edges)
    nodes_in_edges = {u for e in edges for u in e}
    want = {(x, want_map[x]) for x in nodes_in_edges}
    assert got == want


def test_shingles(spark):
    df = spark.range(1).select(
        char_shingles(F.lit("abcd"), 3).alias("sh"))
    got = df.collect()[0].sh
    assert got == ["^ab", "abc", "bcd", "cd$"]


def test_exploded_minhash_matches_hof_oracle(spark):
    """The production exploded-min-md5 signature shape equals the nested-HOF
    minhash_signature oracle element-for-element (same seed/hash-prefixed
    md5 inputs, same lexicographic mins)."""
    from text2nkg_spark.operators.canonicalize import (
        char_shingles, minhash_signature)
    from text2nkg_spark.operators.canonicalize import exploded_min_md5

    surfaces = spark.createDataFrame(
        [("alpha beta",), ("alphabet",), ("gamma delta epsilon",), ("x",)],
        "surface string")
    num_hashes, seed = 6, 42
    sh = surfaces.select(
        F.col("surface").alias("s"),
        char_shingles(F.col("surface"), 3).alias("sh"),
    ).where(F.size("sh") > 0)
    hof = {
        r["s"]: list(r["sig"])
        for r in sh.select(
            "s", minhash_signature(F.col("sh"), num_hashes, seed)
            .alias("sig")).collect()}
    ex = sh.select("s", F.explode("sh").alias("g"))
    flat_df = exploded_min_md5(
        ex, ["s"], "g", num_hashes,
        lambda h, g: F.concat_ws("|", F.lit(str(seed)), F.lit(str(h)), g))
    flat = {
        r["s"]: [r[f"_m{h}"] for h in range(num_hashes)]
        for r in flat_df.collect()}
    assert len(hof) == 4  # "^x$" padding gives even the 1-char surface one
    assert hof == flat


def test_lsh_pairs_find_near_duplicates(spark):
    surfaces = [
        ("the quick brown fox jumps",),
        ("the quick brown fox jumped",),  # near-dup of above
        ("completely different string here",),
        ("zzz unrelated thing",),
    ]
    df = spark.createDataFrame(surfaces, "surface string")
    pairs = lsh_candidate_pairs(df, jaccard_threshold=0.5).collect()
    found = {(r.a, r.b) for r in pairs}
    assert ("the quick brown fox jumped", "the quick brown fox jumps") in found
    assert all("different" not in a and "different" not in b for a, b in found)


def test_local_lsh_bit_identical_to_distributed(spark):
    """The size-adaptive driver LSH (hashlib md5) must emit EXACTLY the
    distributed plan's pairs — same signatures, same band hashes, same
    ascending-surface bucket cap, same Jaccard doubles — including a
    degenerate bucket that exercises the cap and a NULL surface."""
    surfaces = [
        "the quick brown fox jumps", "the quick brown fox jumped",
        "the quick brown fox jump", "completely different string here",
        "zzz unrelated thing", "ent1a ent1b", "ent1a ent1c", "ent1a",
        None,
    ] + [f"boiler plate line {i}" for i in range(12)]
    df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    for thr, cap in ((0.4, 4096), (0.5, 3)):
        local = lsh_candidate_pairs(
            df, jaccard_threshold=thr, max_bucket=cap)  # n <= threshold
        dist = lsh_candidate_pairs(
            df, jaccard_threshold=thr, max_bucket=cap, local_threshold=0)
        lrows = sorted((r.a, r.b, r.jaccard) for r in local.collect())
        drows = sorted((r.a, r.b, r.jaccard) for r in dist.collect())
        assert lrows == drows and len(lrows) > 0


def test_canonicalize_branches_agree(spark):
    """The fused driver-side branch and the distributed LSH+CC branch of
    canonicalize_entities produce IDENTICAL entities on the same mentions
    (local_vocab_threshold=0 forces the distributed composition, which no
    small fixture would otherwise reach)."""
    mentions = [
        ("c1", 0, 0, 0, "ent1a ent1b"),
        ("c2", 1, 2, 3, "ent1a ent1b"),
        ("c1", 2, 0, 0, "ent1a ent1c"),
        ("c3", 0, 4, 4, "ent99a"),
        ("c3", 1, 5, 5, "the quick brown fox jumps"),
        ("c3", 2, 5, 5, "the quick brown fox jumped"),
    ]
    df = spark.createDataFrame(
        mentions,
        "conv_id string, turn_idx int, start int, end int, surface string")
    fast = canonicalize_entities(df, jaccard_threshold=0.4)
    dist = canonicalize_entities(df, jaccard_threshold=0.4,
                                 local_vocab_threshold=0)
    for key in ("entities", "mention_to_entity"):
        a = sorted(tuple(r) for r in fast[key].collect())
        b = sorted(tuple(r) for r in dist[key].collect())
        assert a == b and len(a) > 0


def test_canonicalize_entities(spark):
    mentions = [
        ("c1", 0, 0, 0, "ent1a ent1b"),
        ("c2", 1, 2, 3, "ent1a ent1b"),
        ("c1", 2, 0, 0, "ent1a ent1c"),  # near-dup surface
        ("c3", 0, 4, 4, "ent99a"),
    ]
    df = spark.createDataFrame(
        mentions, "conv_id string, turn_idx int, start int, end int, surface string")
    out = canonicalize_entities(df, jaccard_threshold=0.4)
    m2e = {(r.surface, r.entity_id) for r in out["mention_to_entity"].collect()}
    by_surface = dict(m2e)
    assert by_surface["ent1a ent1b"] == by_surface["ent1a ent1c"]
    assert by_surface["ent99a"] != by_surface["ent1a ent1b"]
    ents = out["entities"].collect()
    assert {e.n_mentions for e in ents} == {3, 1}


def test_rekey_facts_to_entities(spark):
    from text2nkg_spark.operators.canonicalize import rekey_facts_to_entities

    facts = spark.createDataFrame(
        [("c1", 0, "[r]rel_0", "ent1a ent1b", "ent2a", "ent3a")],
        "conv_id string, turn_idx int, rel string, subj string, "
        "obj string, value string")
    s2e = spark.createDataFrame(
        [("ent1a ent1b", "canon1"), ("ent2a", "canon2")],
        "surface string, entity_id string")
    out = rekey_facts_to_entities(facts, s2e, broadcast_map=True).collect()[0]
    assert out.subj_entity_id == "canon1"
    assert out.obj_entity_id == "canon2"
    # unmapped surface falls back to itself — total and collision-free
    assert out.value_entity_id == "ent3a"


def test_rekey_broadcast_is_conditional(spark):
    """VERDICT r5 #2: the rekey join must NOT force-broadcast the
    surface->entity map when it came from the distributed (large-vocab)
    branch — an unconditional F.broadcast of a distinct-surface-sized map
    OOMs at 10^12-turn scale.  Force the distributed branch via
    local_vocab_threshold=0 and assert no ResolvedHint on the analyzed
    plan; thread the small-vocab flag and assert the hint IS present."""
    from text2nkg_spark.operators.canonicalize import (
        canonicalize_entities, rekey_facts_to_entities)

    mentions = spark.createDataFrame(
        [("c1", 0, 0, 0, "ent1a ent1b"),
         ("c1", 1, 0, 0, "ent2a"),
         ("c2", 0, 0, 0, "ent1a ent1c")],
        "conv_id string, turn_idx int, start int, end int, surface string")
    facts = spark.createDataFrame(
        [("c1", 0, "[r]rel_0", "ent1a ent1b", "ent2a", "ent1a ent1c")],
        "conv_id string, turn_idx int, rel string, subj string, "
        "obj string, value string")

    # distributed branch: small_vocab must be False and the threaded flag
    # must leave the join hint-free (AQE may still *pick* broadcast from
    # runtime sizes — that's fine; the bug was the forced hint)
    dist = canonicalize_entities(mentions, local_vocab_threshold=0)
    assert dist["small_vocab"] is False
    keyed = rekey_facts_to_entities(
        facts, dist["surface_to_entity"].select("surface", "entity_id"),
        broadcast_map=dist["small_vocab"])
    plan = keyed._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan
    # and the output is identical to the small-branch rekey
    small = canonicalize_entities(mentions)
    assert small["small_vocab"] is True
    keyed_b = rekey_facts_to_entities(
        facts, small["surface_to_entity"].select("surface", "entity_id"),
        broadcast_map=small["small_vocab"])
    plan_b = keyed_b._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan_b
    rows = {tuple(r) for r in keyed.collect()}
    rows_b = {tuple(r) for r in keyed_b.collect()}
    assert rows == rows_b

    # the caller decides: there is no default (and no size-probe job)
    with pytest.raises(TypeError):
        rekey_facts_to_entities(
            facts, small["surface_to_entity"].select("surface", "entity_id"))


def test_run_pipeline_decides_the_rekey_join_from_the_manifest(
        spark, monkeypatch, tmp_path):
    """run_pipeline passes a decided broadcast_map (from the
    surface_to_entity manifest's row count), never None: None starts the
    size-probe job on every build."""
    from text2nkg_spark.config import DataGenConfig, PipelineConfig
    from text2nkg_spark.datagen import gen_transcripts_pdf
    from text2nkg_spark.operators import canonicalize
    from text2nkg_spark.plans.pipeline import run_pipeline

    seen = []
    rekey = canonicalize.rekey_facts_to_entities

    def recording_rekey(facts, s2e, broadcast_map=None):
        seen.append(broadcast_map)
        return rekey(facts, s2e, broadcast_map=broadcast_map)

    monkeypatch.setattr(canonicalize, "rekey_facts_to_entities",
                        recording_rekey)
    tr = spark.createDataFrame(gen_transcripts_pdf(
        DataGenConfig(n_convs=4, turns_per_conv=4, seed=5)))
    run_pipeline(spark, tr, str(tmp_path / "out"), PipelineConfig())
    assert seen == [True]
