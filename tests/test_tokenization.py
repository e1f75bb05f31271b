"""T1/T2 tokenization + context-window arithmetic (pure python, no Spark)."""

import pytest

from text2nkg_spark.tokenization import (
    FakeWordpieceTokenizer, IdentityTokenizer, context_window, subword_maps)


def test_identity_maps():
    m = subword_maps([["a", "b"], ["c"]], IdentityTokenizer())
    assert m["subwords"] == ["a", "b", "c"]
    assert m["token2subword"] == [0, 1, 2, 3]
    assert m["subword_sentence_boundaries"] == [0, 2, 3]


def test_fake_wordpiece_prefix_sums():
    tok = FakeWordpieceTokenizer(piece_len=3)
    m = subword_maps([["abcdef", "gh"], ["ijklm"]], tok)
    assert m["subwords"] == ["abc", "##def", "gh", "ijk", "##lm"]
    assert m["token2subword"] == [0, 2, 3, 5]
    assert m["subword_sentence_boundaries"] == [0, 3, 5]


@pytest.mark.parametrize(
    "start,end,n,maxn,expect",
    [
        # plenty of room both sides: half context each way
        (10, 14, 30, 12, (6, 18)),
        # short left side: borrow the deficit from the right
        (2, 6, 30, 12, (0, 12)),
        # short right side: borrow the deficit from the left
        (24, 28, 30, 12, (18, 30)),
        # sentence fills the budget exactly: no context
        (5, 17, 30, 12, (5, 17)),
    ],
)
def test_context_window(start, end, n, maxn, expect):
    assert context_window(start, end, n, maxn) == expect


def test_context_window_reference_trace():
    """Re-derive the reference arithmetic literally and compare on a grid."""
    for n in (20, 37, 64):
        for maxn in (8, 12, 16):
            for start in range(0, n - 1, 3):
                for ln in (1, 3, 7):
                    end = min(start + ln, n)
                    left_length = start
                    right_length = n - end
                    sentence_length = end - start
                    half = int((maxn - sentence_length) / 2)
                    lcl = rcl = 0
                    if sentence_length < maxn:
                        if left_length < right_length:
                            lcl = min(left_length, half)
                            rcl = min(right_length, maxn - lcl - sentence_length)
                        else:
                            rcl = min(right_length, half)
                            lcl = min(left_length, maxn - rcl - sentence_length)
                    want = (start - lcl, end + rcl)
                    assert context_window(start, end, n, maxn) == want


# ---------------------------------------------------------------------------
# T1/C5 in the scoring path: subword pruning through token2subword maps
# ---------------------------------------------------------------------------

def test_subword_enumeration_reduces_to_identity():
    import numpy as np

    from text2nkg_spark.candidates import (
        enumerate_triples, enumerate_triples_subword, token2subword_array)
    from text2nkg_spark.tokenization import IdentityTokenizer

    rng = np.random.default_rng(3)
    for _ in range(50):
        e = int(rng.integers(1, 8))
        pos = np.cumsum(rng.integers(1, 5, size=e))
        ents = np.column_stack([pos, pos + rng.integers(0, 2, size=e)])
        n_tok = int(ents.max()) + 2
        t2s = token2subword_array(["w"] * n_tok, IdentityTokenizer())
        for msl in (8, 12, 64):  # small budgets engage pruning
            a = enumerate_triples(ents, msl)
            b = enumerate_triples_subword(ents, msl, t2s)
            assert np.array_equal(a, b), (msl, ents)


def test_wordpiece_pruning_decode_parity_vs_oracle():
    """With the fake wordpiece tokenizer and a tight subword budget the
    pruning engages (run_re.py:490-491/516-517 arithmetic on subword
    positions); decode_core and the reference oracle agree bit-for-bit on
    the PRUNED candidate set under skip-incomplete semantics."""
    import numpy as np

    from text2nkg_spark.candidates import (
        enumerate_triples, enumerate_triples_subword, token2subword_array)
    from text2nkg_spark.decode_core import decode_sentence_arrays
    from text2nkg_spark.labels import LabelSpace, make_synthetic_labels
    from text2nkg_spark.reference_oracle import decode_sentence as oracle_dec
    from text2nkg_spark.scoring_core import hash_logits, log_softmax
    from text2nkg_spark.tokenization import FakeWordpieceTokenizer

    space = LabelSpace.build(*make_synthetic_labels(4, 3))
    tok = FakeWordpieceTokenizer(piece_len=3)
    rng = np.random.default_rng(11)
    pruned_cases = 0
    for seed in range(40):
        n_tok = 14
        words = [
            ("entityword%d" % rng.integers(10) if rng.random() < 0.5
             else "so") for _ in range(n_tok)]
        e = 4
        pos = np.sort(rng.choice(n_tok - 1, size=e, replace=False))
        ents = np.column_stack([pos, pos])
        t2s = token2subword_array(words, tok)
        msl = 18  # tight: long words overflow the subword budget
        cand = enumerate_triples_subword(ents, msl, t2s)
        full = enumerate_triples(ents, 10_000)
        if cand.shape[0] == 0:
            continue
        if cand.shape[0] < full.shape[0]:
            pruned_cases += 1
        rel = log_softmax(hash_logits(
            seed, 0, cand[:, 4:10], space.num_classes, 42, 0))
        qul = log_softmax(hash_logits(
            seed, 0, cand[:, 4:10], space.num_classes, 42, 1))
        got = decode_sentence_arrays(
            ents, cand, rel, qul, space, strict=False)
        spans = [tuple(int(x) for x in r) for r in ents]
        pd_ = {}
        for n, row in enumerate(cand):
            key = (spans[row[1]], spans[row[2]], spans[row[3]])
            pd_[key] = (rel[n].tolist(), "Entity", qul[n].tolist(), "Entity")
        want = oracle_dec(pd_, space, strict=False)
        mine = [(tuple(p[0:2]), tuple(p[2:4]), p[4], tuple(p[5:7]), p[7])
                for p in got]
        assert mine == want, seed
    assert pruned_cases >= 5  # the budget genuinely engaged pruning


def test_wordpiece_pipeline_end_to_end(spark):
    """tokenizer='wordpiece' runs the fused path with pruning active."""
    from text2nkg_spark.config import DataGenConfig, PipelineConfig
    from text2nkg_spark.datagen import gen_transcripts_pdf
    from text2nkg_spark.operators.extraction import extract_facts_fused
    from text2nkg_spark.plans.pipeline import (
        default_label_space, prepare_sentences)

    tr = spark.createDataFrame(gen_transcripts_pdf(
        DataGenConfig(n_convs=10, turns_per_conv=4, seed=33)))
    sents = prepare_sentences(tr)
    cfg = PipelineConfig(tokenizer="wordpiece", wordpiece_piece_len=3,
                         max_seq_length=40)
    space = default_label_space()
    fused = extract_facts_fused(sents, cfg, space).collect()
    assert len(fused) > 0
    # pruning engaged: fewer facts than the identity-tokenizer run
    ident = extract_facts_fused(
        sents, PipelineConfig(max_seq_length=40), space).collect()
    assert len(fused) < len(ident)
