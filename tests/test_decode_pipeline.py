"""The one decode pipeline (scatter -> ensemble -> anchor walk -> NMS)
against the dict-based reference transcriptions, on the routes the
full-grid parity tests do not reach: ``same_entity``, fewer than three
entities and wordpiece-pruned grids in a single batched call, and the
event / role / hypergraph decode under ``same_entity``."""

import numpy as np
import pytest

from text2nkg_spark import reference_oracle as oracle
from text2nkg_spark.candidates import (
    enumerate_triples, enumerate_triples_subword, token2subword_array)
from text2nkg_spark.decode_core import decode_sentences_batch
from text2nkg_spark.decode_multi import decode_sentence_multi
from text2nkg_spark.labels import LabelSpace, make_synthetic_labels
from text2nkg_spark.operators.extraction_multi import SchemaLabels, head_width
from text2nkg_spark.scoring_core import hash_logits_batch, log_softmax
from text2nkg_spark.tokenization import FakeWordpieceTokenizer

SPACE = LabelSpace.build(*make_synthetic_labels(4, 3))


def _entities(rng, e):
    """Non-overlapping spans in sentence order."""
    spans, pos = [], 0
    for _ in range(e):
        pos += int(rng.integers(1, 3))
        ln = int(rng.integers(1, 3))
        spans.append((pos, pos + ln - 1))
        pos += ln
    return np.asarray(spans, dtype=np.int64).reshape(-1, 2)


def _logits(doc, cand, width, head):
    n = cand.shape[0]
    return log_softmax(hash_logits_batch(
        np.full(n, doc, dtype=np.int64), np.zeros(n, dtype=np.int64),
        cand[:, 4:10], width, 17, head))


def _pair_dict(ents, cand, heads):
    spans = [tuple(int(x) for x in r) for r in ents]
    out = {}
    for n, row in enumerate(cand):
        key = (spans[int(row[1])], spans[int(row[2])], spans[int(row[3])])
        vals = [heads[0][n].tolist(), "Entity", heads[1][n].tolist(),
                "Entity"]
        out[key] = tuple(vals + [h[n].tolist() for h in heads[2:]])
    return out


@pytest.mark.parametrize("same_entity", [False, True])
def test_mixed_batch_equals_oracle_per_sentence(same_entity):
    rng = np.random.default_rng(23 + same_entity)
    tok = FakeWordpieceTokenizer(piece_len=3)
    items, rels, quals, lo = [], [], [], 0
    n_pruned = 0
    for doc in range(60):
        e = doc % 9  # E = 0..8
        ents = _entities(rng, e)
        if doc % 3 == 0 and e:
            # wordpiece tokens and a tight budget: the subword pruning
            words = ["entityword%d" % rng.integers(10) if rng.random() < 0.5
                     else "so" for _ in range(int(ents[-1, 1]) + 2)]
            cand = enumerate_triples_subword(
                ents, int(rng.integers(8, 24)),
                token2subword_array(words, tok))
            n_pruned += cand.shape[0] < e ** 3
        else:
            cand = enumerate_triples(ents, 10_000)
        rels.append(_logits(doc, cand, SPACE.num_classes, 0))
        quals.append(_logits(doc, cand, SPACE.num_classes, 1))
        items.append((ents, cand, lo, lo + cand.shape[0]))
        lo += cand.shape[0]
    assert n_pruned >= 5  # the budget really pruned

    got = decode_sentences_batch(
        items, np.concatenate(rels), np.concatenate(quals), SPACE,
        same_entity=same_entity, strict=False)
    n_facts = 0
    for (ents, cand, _lo, _hi), rel, qual, preds in zip(
            items, rels, quals, got):
        want = oracle.decode_sentence(
            _pair_dict(ents, cand, (rel, qual)), SPACE,
            same_entity=same_entity, strict=False)
        assert [((p[0], p[1]), (p[2], p[3]), p[4], (p[5], p[6]), p[7])
                for p in preds] == want
        n_facts += len(want)
    assert n_facts > 0


LABELS = SchemaLabels(
    ("[r]rel_0", "[r]rel_1", "[r]rel_2"),
    ("[k]role_0", "[k]role_1", "[k]role_2", "[k]role_3"))
_N_HEADS = {"event": 4, "role": 3, "hypergraph": 2}


@pytest.mark.parametrize("schema", ["event", "role", "hypergraph"])
@pytest.mark.parametrize("e", [1, 2, 3, 4, 6])
def test_multi_same_entity_equals_oracle(schema, e):
    rng = np.random.default_rng(e)
    ents = _entities(rng, e)
    cand = enumerate_triples(ents, 10_000)
    heads = [_logits(e, cand, head_width(schema, hi, LABELS), hi)
             for hi in range(_N_HEADS[schema])]
    got = decode_sentence_multi(
        schema, ents, cand, dict(zip(("v", "q", "qb", "qc"), heads)),
        LABELS.label_list, LABELS.q_label_list, same_entity=True)
    pd_ = _pair_dict(ents, cand, heads)
    if schema == "event":
        want = oracle.decode_sentence_event(
            pd_, LABELS.label_list, LABELS.q_label_list, same_entity=True)
    elif schema == "role":
        want = oracle.decode_sentence_role(
            pd_, LABELS.q_label_list, same_entity=True)
    else:
        want = oracle.decode_sentence_hypergraph(
            pd_, LABELS.label_list, same_entity=True)
    assert got == want
