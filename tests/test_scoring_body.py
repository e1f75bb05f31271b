"""The shared scoring body of extraction, and what it refuses.

* ``_lookup_gold_labels`` is the one gold-label lookup: at any width it
  equals ``dict.get(key, (0,) * width)`` row by row, and the multi-schema
  ``score_heads`` gold branch built on it equals a per-candidate dict loop.
* The ``predictions`` resume key holds the label NAMES: a rerun on a label
  space of the same size but other names rebuilds.
* The hyperrelation paths (the UDF, ``extract``, the stream) refuse any
  other ``nary_schema`` at plan time.
"""

import numpy as np
import pytest

from text2nkg_spark.candidates import enumerate_triples
from text2nkg_spark.config import DataGenConfig, PipelineConfig
from text2nkg_spark.datagen import gen_transcripts_pdf
from text2nkg_spark.labels import LabelSpace
from text2nkg_spark.operators.extraction import extract_facts_fused
from text2nkg_spark.operators.extraction_multi import (
    SchemaLabels, head_width, score_heads)
from text2nkg_spark.plans.pipeline import (
    extract, prepare_sentences, run_pipeline)
from text2nkg_spark.scoring_core import _lookup_gold_labels, hash_logits_batch


def test_lookup_gold_labels_width4_matches_dict_get():
    rng = np.random.default_rng(7)
    # a small span alphabet so random keys collide; later pairs overwrite
    # earlier ones exactly as dict assignment does
    pairs = [(tuple(int(v) for v in rng.integers(0, 4, 6)),
              tuple(int(v) for v in rng.integers(1, 9, 4)))
             for _ in range(300)]
    index = dict(pairs)
    assert len(index) < len(pairs)  # collisions happened
    hits = np.asarray(list(index.keys())[:50], dtype=np.int64)
    misses = rng.integers(4, 8, (50, 6))  # outside the key alphabet
    triples = rng.permutation(np.concatenate([hits, misses]))
    got = _lookup_gold_labels(triples, index, width=4)
    want = [index.get(tuple(int(v) for v in t), (0,) * 4) for t in triples]
    assert got.shape == (100, 4)
    assert [tuple(int(v) for v in row) for row in got] == want
    assert not _lookup_gold_labels(triples, {}, width=4).any()


LABELS = SchemaLabels(("E1", "E2"), ("R1", "R2", "R3"))


@pytest.mark.parametrize("schema", ["event", "role", "hypergraph"])
def test_score_heads_gold_equals_per_candidate_loop(schema):
    from text2nkg_spark.decode_multi import gold_orderings_multi

    ents = np.array([[0, 0], [2, 3], [5, 5], [7, 8]], dtype=np.int64)
    cand = enumerate_triples(ents, 64)
    rels = [
        {"h_s": 0, "h_e": 0, "t_s": 2, "t_e": 3, "rel": "E1",
         "role_h": "R1", "role_t": "R2",
         "quals": [{"q_s": 5, "q_e": 5, "label": "R3"}]},
        {"h_s": 7, "h_e": 8, "t_s": 2, "t_e": 3, "rel": "E2",
         "role_h": "R2", "role_t": "R1",
         "quals": [{"q_s": 0, "q_e": 0, "label": "R1"}]},
    ]
    if schema == "role":  # role's rel slot is a qualifier-space label
        rels = [dict(r, rel=r["role_t"]) for r in rels]
    cfg = PipelineConfig(scorer="gold", log_softmax=False)
    got = score_heads(schema, cfg, LABELS, 3, 1, cand, rels)

    lm = {lab: i for i, lab in enumerate(LABELS.label_list)}
    qm = {lab: i for i, lab in enumerate(LABELS.q_label_list)}
    gi = gold_orderings_multi(schema, rels, lm, qm)
    n = cand.shape[0]
    names = list(got)
    for hi, name in enumerate(names):
        want = hash_logits_batch(
            np.full(n, 3), np.full(n, 1), cand[:, 4:10],
            head_width(schema, hi, LABELS), cfg.hash_seed,
            hi).astype(np.float64)
        for r in range(n):
            labs = gi.get(tuple(int(v) for v in cand[r, 4:10]),
                          (0,) * len(names))
            want[r, labs[hi]] += cfg.gold_weight
        assert np.array_equal(got[name], want)
    # the planted orderings really were scored
    assert len(gi) == 12 and any(
        tuple(cand[r, 4:10]) in gi for r in range(n))


GEN = DataGenConfig(n_convs=6, turns_per_conv=4, seed=5)


def _rels(df) -> list:
    return sorted(tuple(r) for r in df.select(
        "conv_id", "turn_idx", "pred_idx", "rel", "qual").collect())


def test_rerun_on_renamed_labels_rebuilds(spark, tmp_path_factory):
    tr = spark.createDataFrame(gen_transcripts_pdf(GEN))
    cfg = PipelineConfig()
    space_a = LabelSpace.build(["[r]rel_0", "[r]rel_1"],
                               ["[k]qual_0", "[k]qual_1"])
    space_b = LabelSpace.build(["[r]born_in", "[r]works_for"],
                               ["[k]since", "[k]until"])
    root = str(tmp_path_factory.mktemp("labels_rerun"))
    run_pipeline(spark, tr, root, cfg, space_a)
    rerun = _rels(run_pipeline(spark, tr, root, cfg, space_b)["predictions"])
    fresh = _rels(run_pipeline(
        spark, tr, str(tmp_path_factory.mktemp("labels_fresh")), cfg,
        space_b)["predictions"])
    assert fresh
    assert rerun == fresh
    assert {r[3] for r in rerun} <= {"[r]born_in", "[r]works_for"}


@pytest.mark.parametrize("schema", ["event", "role", "hypergraph"])
def test_non_hyperrelation_schema_refused(spark, tmp_path, schema):
    from text2nkg_spark.streaming.ingest import (
        stream_extract_facts, stream_transcripts)

    tr = spark.createDataFrame(gen_transcripts_pdf(GEN))
    sents = prepare_sentences(tr)
    cfg = PipelineConfig(nary_schema=schema)
    space = LabelSpace.build(["[r]a"], ["[k]b"])
    for build in (
            lambda: extract_facts_fused(sents, cfg, space),
            lambda: extract(tr, cfg, space),
            lambda: stream_extract_facts(
                stream_transcripts(spark, str(tmp_path)), cfg, space)):
        with pytest.raises(ValueError, match="extract_facts_multi"):
            build()
