"""M1/M2/C2/C5 wiring: subject markers, marker-shift arithmetic, packed
levitated-marker tensorization, and the scorer='model' pipeline path —
all torch-free (numpy mini-encoder)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from text2nkg_spark.candidates import enumerate_triples, shifted_right
from text2nkg_spark.config import PipelineConfig
from text2nkg_spark.operators.model_scorer import (
    MARKER_L_ID, MARKER_R_ID, SUB_L, SUB_R, MiniEncoder, ModelScorer,
    chunk_candidates, insert_subject_markers, marker_shifted_span,
    packed_candidate_batch)


def _ref_shift(start, end, sub_s, sub_e):
    """Literal transcription of run_re.py:505-517 (identity tokenizer,
    doc_offset=0): the left/right positions after subject-marker insert."""
    left = start + 1
    right = end + 1
    if start >= sub_s:
        left += 1
        if start > sub_e:
            left += 1
    if end >= sub_s:
        right += 1
        if end > sub_e:
            right += 1
    return left, right


def test_marker_shift_matches_reference_arithmetic():
    rng = np.random.default_rng(0)
    for _ in range(300):
        sub_s = int(rng.integers(0, 30))
        sub_e = sub_s + int(rng.integers(0, 4))
        starts = rng.integers(0, 40, size=8)
        ends = starts + rng.integers(0, 4, size=8)
        left, right = marker_shifted_span(starts, ends, sub_s, sub_e)
        for k in range(8):
            el, er = _ref_shift(int(starts[k]), int(ends[k]), sub_s, sub_e)
            assert (left[k], right[k]) == (el, er)
        # and the right side agrees with candidates.shifted_right (C3 uses
        # the same arithmetic for pruning)
        assert np.array_equal(right, shifted_right(ends, sub_s, sub_e))


def test_insert_subject_markers_positions():
    tokens = ["[CLS]", "a", "b", "c", "d"]
    marked, (s, e) = insert_subject_markers(tokens, 2, 3)
    assert marked == ["[CLS]", "a", SUB_L, "b", "c", SUB_R, "d"]
    assert marked[s] == SUB_L and marked[e] == SUB_R
    assert e == 3 + 2  # run_re.py:484 sub_e += 2
    # removing the markers restores the original sequence
    assert [t for t in marked if t not in (SUB_L, SUB_R)] == tokens


def test_chunk_candidates_reference_step():
    assert chunk_candidates(5, 2) == [(0, 4), (4, 5)]
    assert chunk_candidates(1024, 32) == [(0, 1024)]
    assert chunk_candidates(1025, 32) == [(0, 1024), (1024, 1025)]
    assert chunk_candidates(0, 32) == [(0, 0)]


def test_packed_batch_shapes_and_attention_blocks():
    s_len, p = 64, 8
    ids = [101, 5, 6, 7, 102]
    spans = np.array([[2, 3], [4, 4], [1, 1]])
    b = packed_candidate_batch(ids, (1, 3), spans, spans, s_len, p)
    assert b.input_ids.shape == (s_len + 2 * p,)
    assert b.attention_mask.shape == (s_len + 2 * p, s_len + 2 * p)
    # marker id blocks: R left markers at S.., R right markers at S+P..
    assert list(b.input_ids[s_len:s_len + 3]) == [MARKER_L_ID] * 3
    assert list(b.input_ids[s_len + p:s_len + p + 3]) == [MARKER_R_ID] * 3
    assert b.input_ids[s_len + 3] == 0  # padded
    # position ids of each marker pair = its span ends (run_re.py:647-648)
    for row in range(3):
        assert b.position_ids[s_len + row] == spans[row, 0]
        assert b.position_ids[s_len + p + row] == spans[row, 1]
    # attention: text block square; each pair sees itself + text;
    # NO cross-pair attention (the packing trick's correctness condition)
    l = len(ids)
    assert b.attention_mask[:l, :l].all()
    for row in range(3):
        w1, w2 = s_len + row, s_len + p + row
        assert b.attention_mask[w1, w2] == 1 and b.attention_mask[w2, w1] == 1
        assert b.attention_mask[w1, :l].all()
        for other in range(3):
            if other != row:
                assert b.attention_mask[w1, s_len + other] == 0
                assert b.attention_mask[w1, s_len + p + other] == 0
    # text does not attend to markers (levitated: markers are invisible
    # to the sentence encoding)
    assert b.attention_mask[:l, s_len:].sum() == 0
    # mention grids: row-major object spans, column-major qualifier spans
    assert (b.mention_pos[1, 0] == spans[1]).all()
    assert (b.q_mention_pos[0, 2] == spans[2]).all()


def test_mini_scorer_deterministic_and_wiring_sensitive():
    tokens = "the ent1 saw ent2 near ent3 now".split()
    ents = np.array([[1, 1], [3, 3], [5, 5]])
    cand = enumerate_triples(ents, 64)
    sc = ModelScorer("mini", max_seq_length=64, max_pair_length=8,
                     num_classes=7)
    r1, q1 = sc.score_sentence(tokens, ents, cand)
    r2, q2 = sc.score_sentence(tokens, ents, cand)
    assert r1.shape == (27, 7) and q1.shape == (27, 7)
    assert np.array_equal(r1, r2) and np.array_equal(q1, q2)
    # moving an entity span changes the marker positions -> scores change
    ents2 = np.array([[1, 1], [3, 3], [6, 6]])
    r3, _ = sc.score_sentence(tokens, ents2, enumerate_triples(ents2, 64))
    assert not np.array_equal(r1, r3)
    # E > max_pair_length falls back to group-pair batching (every batch
    # still packs <= max_pair_length marker rows) and stays deterministic
    big = np.column_stack([np.arange(9) * 2, np.arange(9) * 2])
    big_cand = enumerate_triples(big, 64)
    sc8 = ModelScorer("mini", max_seq_length=64, max_pair_length=8,
                      num_classes=7)
    rb1, qb1 = sc8.score_sentence(["t"] * 32, big, big_cand)
    rb2, _ = sc8.score_sentence(["t"] * 32, big, big_cand)
    assert rb1.shape == (9 ** 3, 7) and np.array_equal(rb1, rb2)
    assert len(sc8._entity_groups(9)) == 3  # groups of P//2 = 4


class _SingleOnlyEncoder:
    """MiniEncoder stripped of encode_batch — forces the per-example
    fallback path so the batched path can be tested against it."""

    def __init__(self, inner):
        self._inner = inner
        self.num_classes = inner.num_classes

    def encode(self, ids, att, pos):
        return self._inner.encode(ids, att, pos)

    def pair_logits(self, h1, h2, hql, hqr, hsub_s, hsub_e, head="re"):
        return self._inner.pair_logits(h1, h2, hql, hqr, hsub_s, hsub_e,
                                       head)


def test_encode_batch_bit_parity():
    """encode_batch == stacked per-example encode, bit-for-bit (same
    elementwise embed, same (T,T)@(T,H) GEMM per element)."""
    rng = np.random.default_rng(3)
    enc = MiniEncoder(num_classes=5)
    ids = rng.integers(0, 30000, size=(6, 48)).astype(np.int64)
    pos = rng.integers(0, 48, size=(6, 48)).astype(np.int64)
    att = (rng.random((6, 48, 48)) < 0.3).astype(np.int64)
    got = enc.encode_batch(ids, att, pos)
    want = np.stack([enc.encode(ids[z], att[z], pos[z]) for z in range(6)])
    assert np.array_equal(got, want)


def test_batched_score_sentence_bit_parity():
    """The chunked-batch scoring path emits logits bit-identical to the
    per-example encode loop, across chunk boundaries (batch_examples=2
    forces several chunks) and under group-pair batching (E > P)."""
    tokens = ["w"] * 24
    ents = np.column_stack([np.arange(6) * 3 + 1, np.arange(6) * 3 + 1])
    cand = enumerate_triples(ents, 64)
    batched = ModelScorer("mini", max_seq_length=64, max_pair_length=8,
                          num_classes=7)
    batched.batch_examples = 2
    single = ModelScorer("mini", max_seq_length=64, max_pair_length=8,
                         num_classes=7)
    single.encoder = _SingleOnlyEncoder(MiniEncoder(num_classes=7))
    rb, qb = batched.score_sentence(tokens, ents, cand)
    rs, qs = single.score_sentence(tokens, ents, cand)
    assert np.array_equal(rb, rs) and np.array_equal(qb, qs)
    # E > max_pair_length: group-pair examples also chunk identically
    big = np.column_stack([np.arange(9) * 2, np.arange(9) * 2])
    big_cand = enumerate_triples(big, 64)
    b8 = ModelScorer("mini", max_seq_length=64, max_pair_length=8,
                     num_classes=7)
    b8.batch_examples = 3
    s8 = ModelScorer("mini", max_seq_length=64, max_pair_length=8,
                     num_classes=7)
    s8.encoder = _SingleOnlyEncoder(MiniEncoder(num_classes=7))
    rb2, qb2 = b8.score_sentence(["t"] * 32, big, big_cand)
    rs2, qs2 = s8.score_sentence(["t"] * 32, big, big_cand)
    assert np.array_equal(rb2, rs2) and np.array_equal(qb2, qs2)


def test_model_scored_pipeline_end_to_end(spark):
    """scorer='model' runs the full fused extraction (lazy per-worker
    scorer), deterministically."""
    from text2nkg_spark.config import DataGenConfig
    from text2nkg_spark.datagen import gen_transcripts_pdf
    from text2nkg_spark.operators.extraction import extract_facts_fused
    from text2nkg_spark.plans.pipeline import (
        default_label_space, prepare_sentences)

    tr = spark.createDataFrame(gen_transcripts_pdf(
        DataGenConfig(n_convs=8, turns_per_conv=4, seed=21)))
    sents = prepare_sentences(tr)
    cfg = PipelineConfig(scorer="model", max_seq_length=64,
                         max_pair_length=16)
    space = default_label_space()
    fused = extract_facts_fused(sents, cfg, space)
    rows = fused.collect()
    assert len(rows) > 0
    again = extract_facts_fused(sents, cfg, space).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_score_sentence_marker_positions_absolute():
    """End-to-end position check against a hand trace of the reference
    (run_re.py:477, 505-517): tokens [a,b,c], subject (0,0) -> marked
    sequence [CLS][u0] a [u1] b c; object (1,1)'s marker positions must be
    (4,4) = token 'b', NOT (5,5) = 'c' (the double-[CLS] off-by-one)."""
    captured = []

    class SpyEncoder(MiniEncoder):
        def encode_batch(self, ids, att, pos):
            for z in range(ids.shape[0]):
                captured.append((ids[z].copy(), pos[z].copy()))
            return super().encode_batch(ids, att, pos)

    s_len, p = 32, 8
    sc = ModelScorer("mini", max_seq_length=s_len, max_pair_length=p,
                     num_classes=5)
    sc.encoder = SpyEncoder(num_classes=5)
    ents = np.array([[0, 0], [1, 1], [2, 2]])
    cand = enumerate_triples(ents, s_len)
    sc.score_sentence(["a", "b", "c"], ents, cand)

    # subject 0's batch is captured first; row order = entity order
    ids, pos = captured[0]
    import zlib
    # marked: [CLS] [u0] a [u1] b c [SEP]
    assert list(ids[:7]) == [
        101, 1, zlib.crc32(b"a") % 28000 + 1000, 2,
        zlib.crc32(b"b") % 28000 + 1000, zlib.crc32(b"c") % 28000 + 1000,
        102]
    # entity 0 (the subject, spans via the same shift): (2, 2)... entity 1
    # ('b') must anchor at 4, entity 2 ('c') at 5
    assert pos[s_len + 1] == 4 and pos[s_len + p + 1] == 4
    assert pos[s_len + 2] == 5 and pos[s_len + p + 2] == 5
