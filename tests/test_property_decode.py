"""Property-based decode parity (hypothesis): for arbitrary entity layouts
and logit seeds, the vectorized engine decode must match the dict-based
reference transcription bit-for-bit — including NMS order and scores."""

import numpy as np
from hypothesis import given, settings, strategies as st

from text2nkg_spark.candidates import enumerate_triples
from text2nkg_spark import decode_core
from text2nkg_spark.decode_core import decode_sentence_arrays
from text2nkg_spark.labels import LabelSpace, make_synthetic_labels
from text2nkg_spark.reference_oracle import decode_sentence
from text2nkg_spark.scoring_core import (
    gold_logits, gold_orderings, hash_logits, log_softmax)

RELS, QUALS = make_synthetic_labels(6, 5)
SPACE = LabelSpace.build(RELS, QUALS)


@st.composite
def entity_layouts(draw):
    e = draw(st.integers(min_value=2, max_value=9))
    gaps = draw(st.lists(st.integers(1, 4), min_size=e, max_size=e))
    lens = draw(st.lists(st.integers(1, 3), min_size=e, max_size=e))
    spans, pos = [], 0
    for g, ln in zip(gaps, lens):
        pos += g
        spans.append((pos, pos + ln - 1))
        pos += ln
    return np.asarray(spans, dtype=np.int64)


def _pair_dict(ents, cand, rel_lg, q_lg):
    spans = [tuple(int(x) for x in r) for r in ents]
    out = {}
    for n, row in enumerate(cand):
        key = (spans[int(row[1])], spans[int(row[2])], spans[int(row[3])])
        out[key] = (rel_lg[n].tolist(), "Entity", q_lg[n].tolist(), "Entity")
    return out


@settings(max_examples=60, deadline=None)
@given(ents=entity_layouts(), seed=st.integers(0, 2**31 - 1),
       doc=st.integers(0, 10**6), sent=st.integers(0, 100))
def test_hash_decode_parity_property(ents, seed, doc, sent):
    cand = enumerate_triples(ents, 256)
    rel = log_softmax(hash_logits(doc, sent, cand[:, 4:10], SPACE.num_classes, seed, 0))
    q = log_softmax(hash_logits(doc, sent, cand[:, 4:10], SPACE.num_classes, seed, 1))
    loop = decode_sentence_arrays(ents, cand, rel, q, SPACE)
    fast = decode_core.decode_sentence(ents, cand, rel, q, SPACE)
    want = decode_sentence(_pair_dict(ents, cand, rel, q), SPACE)
    got = [((p[0], p[1]), (p[2], p[3]), p[4], (p[5], p[6]), p[7]) for p in loop]
    assert got == want
    assert fast == loop


@settings(max_examples=40, deadline=None)
@given(ents=entity_layouts(), seed=st.integers(0, 2**31 - 1),
       data=st.data())
def test_gold_decode_parity_property(ents, seed, data):
    e = ents.shape[0]
    if e < 3:
        return
    cand = enumerate_triples(ents, 256)
    lm = SPACE.label_map()
    idx = data.draw(st.permutations(range(e)))
    h, t, qq = idx[0], idx[1], idx[2]
    rel = data.draw(st.sampled_from(RELS))
    qual = data.draw(st.sampled_from(QUALS))
    gold = [(int(ents[h, 0]), int(ents[h, 1]), int(ents[t, 0]),
             int(ents[t, 1]), rel,
             [(int(ents[qq, 0]), int(ents[qq, 1]), qual)])]
    gi = gold_orderings(gold, lm)
    rel_lg, q_lg = gold_logits(3, 1, cand[:, 4:10], SPACE.num_classes, gi, seed, 10.0)
    rel_lg, q_lg = log_softmax(rel_lg), log_softmax(q_lg)
    loop = decode_sentence_arrays(ents, cand, rel_lg, q_lg, SPACE)
    want = decode_sentence(_pair_dict(ents, cand, rel_lg, q_lg), SPACE)
    got = [((p[0], p[1]), (p[2], p[3]), p[4], (p[5], p[6]), p[7]) for p in loop]
    assert got == want
    # planted fact recovered
    recovered = {(p[0], p[1], p[2], p[3], p[4], p[5], p[6], p[7]) for p in loop}
    hs, he, ts_, te = gold[0][0], gold[0][1], gold[0][2], gold[0][3]
    qs, qe = gold[0][5][0][0], gold[0][5][0][1]
    assert (hs, he, ts_, te, rel, qs, qe, qual) in recovered


@settings(max_examples=50, deadline=None)
@given(ents=entity_layouts(), seed=st.integers(0, 2**31 - 1),
       doc=st.integers(0, 10**6), sent=st.integers(0, 100))
def test_unidirect_decode_parity_property(ents, seed, doc, sent):
    """--eval_unidirect ablation: the vectorized no-ensemble decode equals
    the oracle transcription for arbitrary layouts and logit seeds."""
    from text2nkg_spark.decode_core import decode_sentence_unidirect

    cand = enumerate_triples(ents, 256)
    rel = log_softmax(
        hash_logits(doc, sent, cand[:, 4:10], SPACE.num_classes, seed, 0))
    q = log_softmax(
        hash_logits(doc, sent, cand[:, 4:10], SPACE.num_classes, seed, 1))
    got = decode_sentence_unidirect(ents, cand, rel, q, SPACE)
    want = decode_sentence(
        _pair_dict(ents, cand, rel, q), SPACE, unidirect=True)
    assert [((p[0], p[1]), (p[2], p[3]), p[4], (p[5], p[6]), p[7])
            for p in got] == want
