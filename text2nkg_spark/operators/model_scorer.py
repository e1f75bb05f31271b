"""M1-M6 — model-scorer wiring: subject markers, packed levitated markers,
tensorization, and chunked batch shaping, exactly as the reference builds
its model inputs (run_re.py:466-843) — implemented torch-free.

Everything semantically load-bearing is pure numpy and unit-tested:

* ``insert_subject_markers``   — run_re.py:479-484 (solid [unused0/1]
  markers around the subject; subject end shifts by 2).
* ``marker_shifted_span``      — run_re.py:505-517 / 533-545 (object and
  qualifier spans shift right past the inserted subject markers).
* ``chunk_candidates``         — run_re.py:563, 577-586 (one model example
  per max_pair_length^2 candidate block).
* ``packed_candidate_batch``   — run_re.py:595-790 (__getitem__): pads
  input ids with the marker blocks, builds the (S+2P, S+2P) block attention
  mask where each levitated marker pair attends to itself + the text but
  not to other pairs, and maps marker position_ids onto their span ends.
  The packing shares sqrt(n) object marker pairs across the qualifier
  grid — the reference's central efficiency trick (one BERT pass scores up
  to max_pair_length^2 (object, qualifier) candidates for one subject).

The actual encoder is pluggable: ``MiniEncoder`` is a deterministic numpy
stand-in with BERT's interface contract (ids/mask/positions -> hidden
states) used by tests and the ``scorer='model'`` pipeline path in this
container; ``load_torch_encoder`` performs the gated import and only raises
if torch/transformers are genuinely absent at WEIGHT-LOAD time.

Spark integration (see operators/extraction.py): one ``ModelScorer`` per
python worker, created lazily inside the mapInPandas iterator — executor-
local model load; weights distributed via ``spark-submit --files`` or a
shared filesystem, NOT broadcast (400 MB through the driver).
``extract_facts_fused`` scores and decodes each Arrow batch in one task;
fp16 autocast applies on GPU executors (reference: apex O1,
run_re.py:925-930).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# reference marker token ids for BERT vocab (run_re.py:608-610):
# [unused0]=1, [unused1]=2 surround the subject; 3/4 are the levitated
# object/qualifier marker blocks appended after the text
SUB_L, SUB_R = "[unused0]", "[unused1]"
MARKER_L_ID, MARKER_R_ID = 3, 4
PAD_ID = 0
CLS_ID, SEP_ID = 101, 102

# multi-schema head order — matches extraction_multi._HEAD_NAMES and the
# reference's output tuple order per schema (modeling_bert.py:2337-2386):
# v = relation head, q/qb/qc = the m3/m1/m2 qualifier heads
MULTI_HEAD_NAMES = ("v", "q", "qb", "qc")


def chunk_candidates(n_candidates: int, max_pair_length: int = 32) -> list[tuple[int, int]]:
    """[lo, hi) chunks of max_pair_length^2 candidates (run_re.py:563-586)."""
    step = max_pair_length * max_pair_length
    return [(lo, min(lo + step, n_candidates))
            for lo in range(0, max(n_candidates, 1), step)]


def insert_subject_markers(
    tokens: list[str], sub_s: int, sub_e: int
) -> tuple[list[str], tuple[int, int]]:
    """Solid subject markers (run_re.py:479-484).

    tokens: subword sequence INCLUDING the leading [CLS] analogue; (sub_s,
    sub_e) inclusive subword span of the subject.  Returns the marked
    sequence and the marker-shifted subject span (sub_s, sub_e + 2) — the
    subject now spans [unused0] .. [unused1] inclusive.
    """
    marked = (tokens[:sub_s] + [SUB_L] + tokens[sub_s:sub_e + 1]
              + [SUB_R] + tokens[sub_e + 1:])
    return marked, (sub_s, sub_e + 2)


def marker_shifted_span(
    starts: np.ndarray, ends: np.ndarray, sub_s: int, sub_e: int
) -> tuple[np.ndarray, np.ndarray]:
    """(left, right) positions of spans after subject-marker insertion —
    the reference arithmetic at run_re.py:505-517 (objects) and 533-545
    (qualifiers), vectorized.

    starts/ends are inclusive TOKEN spans; sub_s/sub_e the (unshifted)
    subject token span.  left = start + 1 (+1 per subject marker at or
    before it); right = end + 1 with the same shifts — matching
    ``left = doc_entity_start - doc_offset + 1`` then the two
    ``if obj[x] >= sub[0] / > sub[1]`` increments.
    """
    left = starts + 1
    left = left + (starts >= sub_s).astype(np.int64)
    left = left + (starts > sub_e).astype(np.int64)
    right = ends + 1
    right = right + (ends >= sub_s).astype(np.int64)
    right = right + (ends > sub_e).astype(np.int64)
    return left, right


@dataclass
class PackedBatch:
    """One model example: every tensor the reference's __getitem__ emits
    (run_re.py:790-801), as numpy."""

    input_ids: np.ndarray       # (S + 2P,) int64
    attention_mask: np.ndarray  # (S + 2P, S + 2P) int8 block mask
    #   (int8: the 320x320 mask is the dominant allocation — zeroing
    #   int64 masks measured as 60% of mini-scorer wall; encoders
    #   upcast on use)
    position_ids: np.ndarray    # (S + 2P,) int64
    sub_position: np.ndarray    # (2,) int64
    mention_pos: np.ndarray     # (P, P, 2) object marker spans per cell
    q_mention_pos: np.ndarray   # (P, P, 2) qualifier spans per cell
    n_rows: int                 # live object rows (sqrt of examples)


def packed_candidate_batch(
    token_ids: list[int],
    sub_position: tuple[int, int],
    obj_spans: np.ndarray,   # (R, 2) marker-shifted (left, right), row order
    qual_spans: np.ndarray,  # (R, 2) same spans in qualifier order
    max_seq_length: int,
    max_pair_length: int,
) -> PackedBatch:
    """Shape one subject's candidate grid into the packed-marker tensors.

    The R object rows each own ONE levitated marker pair (w1 = S + row,
    w2 = S + P + row); the R qualifier columns reuse the same R pairs —
    so R^2 (object, qualifier) candidates ride on 2R marker tokens
    (run_re.py:636-657: position/attention are written only when
    ``x_idx % sqrt(n) == 0``, i.e. once per object row).
    """
    s_len = max_seq_length
    p = max_pair_length
    r = obj_spans.shape[0]
    assert r <= p, "chunk_candidates must bound rows at max_pair_length"

    ids = np.full(s_len + 2 * p, PAD_ID, dtype=np.int64)
    l = min(len(token_ids), s_len)
    ids[:l] = np.asarray(token_ids[:l], dtype=np.int64)
    # marker blocks (run_re.py:608-610): R left markers then pad, R right
    ids[s_len:s_len + r] = MARKER_L_ID
    ids[s_len + p:s_len + p + r] = MARKER_R_ID

    att = np.zeros((s_len + 2 * p, s_len + 2 * p), dtype=np.int8)
    att[:l, :l] = 1

    pos = np.concatenate(
        [np.arange(s_len, dtype=np.int64), np.zeros(2 * p, dtype=np.int64)])

    for row in range(r):
        w1 = s_len + row
        w2 = s_len + p + row
        pos[w1] = obj_spans[row, 0]
        pos[w2] = obj_spans[row, 1]
        # each marker pair sees itself and the text, nothing else
        att[[w1, w1, w2, w2], [w1, w2, w1, w2]] = 1
        att[w1, :l] = 1
        att[w2, :l] = 1

    mention = np.zeros((p, p, 2), dtype=np.int64)
    q_mention = np.zeros((p, p, 2), dtype=np.int64)
    mention[:r, :r, 0] = obj_spans[:, None, 0]
    mention[:r, :r, 1] = obj_spans[:, None, 1]
    q_mention[:r, :r, 0] = qual_spans[None, :, 0]
    q_mention[:r, :r, 1] = qual_spans[None, :, 1]

    return PackedBatch(
        input_ids=ids, attention_mask=att, position_ids=pos,
        sub_position=np.asarray(sub_position, dtype=np.int64),
        mention_pos=mention, q_mention_pos=q_mention, n_rows=r)


class MiniEncoder:
    """Deterministic numpy stand-in with the encoder contract the scorer
    needs: (input_ids, attention_mask, position_ids) -> (T, H) hidden
    states.  One masked-mean mixing layer over splitmix64 embeddings —
    NOT a language model, but it consumes every packed tensor (so a wiring
    bug — wrong mask block, wrong marker position — changes the output and
    fails the tests) and is cheap enough for UDF use in this container."""

    def __init__(self, hidden: int = 16, num_classes: int = 11, seed: int = 7):
        self.hidden = hidden
        self.num_classes = num_classes
        self.seed = seed

    def _embed(self, ids: np.ndarray, pos: np.ndarray) -> np.ndarray:
        from text2nkg_spark.scoring_core import splitmix64

        h = np.arange(self.hidden, dtype=np.int64).astype(np.uint64)
        key = splitmix64(
            (ids.astype(np.uint64) * np.uint64(1_000_003))
            ^ splitmix64(pos.astype(np.uint64) + np.uint64(self.seed)))
        grid = splitmix64(key[..., None] ^ splitmix64(h))
        return (grid >> np.uint64(11)).astype(np.float32) / np.float32(1 << 53)

    def encode(self, ids: np.ndarray, att: np.ndarray,
               pos: np.ndarray) -> np.ndarray:
        x = self._embed(ids, pos)
        w = att.astype(np.float32)
        denom = np.maximum(w.sum(axis=1, keepdims=True), 1.0)
        return x + (w @ x) / denom  # one masked-attention mixing layer

    def encode_batch(self, ids: np.ndarray, att: np.ndarray,
                     pos: np.ndarray) -> np.ndarray:
        """(B, T) ids / (B, T, T) mask / (B, T) positions -> (B, T, H).

        Bit-identical to per-example :meth:`encode`: the embed vectorizes
        over the whole chunk; the mixing layer stays a per-element
        (T, T) @ (T, H) GEMM — numpy's stacked 3-D matmul does NOT dispatch
        batch elements to BLAS and measures ~7x slower than the explicit
        loop at (16, 320, 320) @ (16, 320, 16)."""
        x = self._embed(ids, pos)
        out = np.empty_like(x)
        for z in range(ids.shape[0]):
            w = att[z].astype(np.float32)
            denom = np.maximum(w.sum(axis=1, keepdims=True), 1.0)
            out[z] = x[z] + (w @ x[z]) / denom
        return out

    def pair_logits(self, h1: np.ndarray, h2: np.ndarray,
                    hql: np.ndarray, hqr: np.ndarray,
                    hsub_s: np.ndarray, hsub_e: np.ndarray,
                    head: str = "re") -> np.ndarray:
        """Six (..., H) marker/subject states -> (..., C) logits.

        The state set mirrors the reference head EXACTLY (modeling_bert.py:
        2309-2325): object left/right markers, qualifier left/right
        markers, subject start/end states — the reference sums three
        Linear(2H) classifiers (m2 over the object pair, m3 over the
        qualifier pair, m1 over the subject pair), i.e. one linear over the
        6H concat.  ``head`` selects the relation ('re') vs qualifier
        ('qre') classifier family — separate weights in the reference, so
        separate salts here.  Distinct multipliers per state keep any
        wiring bug (swapped marker, wrong qualifier) visible."""
        from text2nkg_spark.scoring_core import splitmix64

        c = np.arange(self.num_classes, dtype=np.int64).astype(np.uint64)
        feats = (h1 * 3.0 + h2 * 5.0 + hql * 17.0 + hqr * 19.0
                 + hsub_s * 7.0 + hsub_e * 23.0).sum(axis=-1)
        salt = {"re": 0xC0DE_0001, "qre": 0xC0DE_0002}[head]
        key = splitmix64((feats * 1e6).astype(np.int64).astype(np.uint64)
                         ^ splitmix64(np.uint64(salt)))
        grid = splitmix64(key[..., None] ^ splitmix64(c))
        return (grid >> np.uint64(11)).astype(np.float32) / np.float32(1 << 53)

    def span_logits(self, h1: np.ndarray, h2: np.ndarray,
                    num_classes: int) -> np.ndarray:
        """(..., H) marker-pair states -> (..., C_ner) NER-head logits
        (the outputs[1]/outputs[3] analogue, run_re.py:1250) — keyed apart
        from the relation heads so the two never alias."""
        from text2nkg_spark.scoring_core import splitmix64

        c = np.arange(num_classes, dtype=np.int64).astype(np.uint64)
        feats = (h1 * 11.0 + h2 * 13.0).sum(axis=-1)
        key = splitmix64(
            (feats * 1e6).astype(np.int64).astype(np.uint64)
            ^ np.uint64(0x9E37_79B9))
        grid = splitmix64(key[..., None] ^ splitmix64(c))
        return (grid >> np.uint64(11)).astype(np.float32) / np.float32(1 << 53)

    def head_logits(self, h1: np.ndarray, h2: np.ndarray,
                    hql: np.ndarray, hqr: np.ndarray,
                    hsub_s: np.ndarray, hsub_e: np.ndarray,
                    num_classes: int, head_idx: int) -> np.ndarray:
        """Multi-schema n-ary heads (v/q/qb/qc): the event/role models
        carry EXTRA qualifier classifiers q2/q3 beyond hyperrelation's two
        (modeling_bert.py:2327-2335 — q2_re_classifier_m1..m3,
        q3_re_classifier_m1..m3), each a per-head triple of Linear(2H)
        classifiers over the same (subject-pair, object-pair,
        qualifier-pair) states.  Here: one salted deterministic head per
        index, consuming ALL SIX states — the same 6H feature set the
        reference heads see — so any wiring bug (wrong marker, swapped
        qualifier) changes the output."""
        from text2nkg_spark.scoring_core import splitmix64

        c = np.arange(num_classes, dtype=np.int64).astype(np.uint64)
        feats = (h1 * 3.0 + h2 * 5.0 + hql * 17.0 + hqr * 19.0
                 + hsub_s * 7.0 + hsub_e * 23.0).sum(axis=-1)
        key = splitmix64(
            (feats * 1e6).astype(np.int64).astype(np.uint64)
            ^ splitmix64(np.uint64(0xA5A5_0000 + head_idx)))
        grid = splitmix64(key[..., None] ^ splitmix64(c))
        return (grid >> np.uint64(11)).astype(np.float32) / np.float32(1 << 53)


class TorchEncoderAdapter:  # tensor plumbing covered by a fake torch in
    # tests/test_torch_adapter.py; only the genuine HF forward is untestable
    # in this container
    """Encoder-contract adapter (encode / pair_logits / num_classes) over a
    HF checkpoint, so ``ModelScorer`` can swap the MiniEncoder for real
    weights without touching the packed-marker wiring.

    * ``encode`` runs one transformer pass with the packed SQUARE attention
      mask — HF's ``get_extended_attention_mask`` accepts a (B, T, T)
      mask, which is exactly what carries the levitated-marker visibility
      blocks — and the explicit position_ids mapping markers to span ends.
    * ``pair_logits`` / ``head_logits`` apply linear n-ary heads loaded
      from ``nary_heads.npz`` in the checkpoint dir.  Every head weight is
      (6H, C) over the concat ``(h1, h2, hql, hqr, hsub_start, hsub_end)``
      — EXACTLY the feature set the reference heads see, so the export is
      lossless: the reference computes each score as a sum of three
      Linear(2H) classifiers (modeling_bert.py:2309-2325) ``m2(concat(
      obj_l, obj_r)) + m3(concat(q_l, q_r)) + m1(concat(sub_start,
      sub_end))``, which is one linear over the 6H concat with

          w = vstack(m2.weight.T, m3.weight.T, m1.weight.T)   # (6H, C)
          b = m1.bias + m2.bias + m3.bias                     # (C,)

      npz keys (see README 'Exporting reference head weights'):
      ``w_re``/``b_re`` (re_classifier_m1..m3) + ``w_qre``/``b_qre``
      (q_re_classifier_m1..m3) for hyperrelation scoring;
      ``w_v``..``w_qc`` multi-schema heads; ``ner_w``/``ner_b``
      (2H, C_ner).  Every family is optional at LOAD (a checkpoint only
      has the families its schema creates) and a hard error at first
      USE when absent.  The
      reference's fine-tuned heads live inside its custom BertForNary
      fork; export them to that file — inventing head weights would
      produce confidently-wrong facts, so their absence is a hard error.
    """

    def __init__(self, checkpoint_dir: str, num_classes: int):
        import os

        import torch
        import transformers

        self._torch = torch
        self.model = transformers.AutoModel.from_pretrained(checkpoint_dir)
        self.model.eval()
        self.num_classes = num_classes
        head_path = os.path.join(checkpoint_dir, "nary_heads.npz")
        if not os.path.exists(head_path):
            raise NotImplementedError(
                f"no n-ary head weights at {head_path}; export the "
                "classifier families YOUR checkpoint's schema creates "
                "(each (6H, C)/(C,)) — see the per-schema recipe in "
                "README 'Exporting reference head weights'")
        head = np.load(head_path)
        self._head_path = head_path
        # hyperrelation relation + qualifier classifier families —
        # separate Linear triples in the reference (re_classifier_m1..m3 /
        # q_re_classifier_m1..m3, modeling_bert.py:2230-2243), so separate
        # keys here.  OPTIONAL at load (a role-only or hypergraph-only
        # export has no re_*/q_re_* families and must still load for
        # multi-schema scoring); scoring through an absent family is a
        # hard error at first use — same policy as the multi heads.
        self.pair_heads = {
            name: (head[f"w_{name}"], head[f"b_{name}"])
            for name in ("re", "qre")
            if f"w_{name}" in head and f"b_{name}" in head}
        # NER head is optional (only predicted-NER mode needs it); cached
        # here like the relation heads — never re-read in the scoring loop
        self.ner_w = head["ner_w"] if "ner_w" in head else None
        self.ner_b = head["ner_b"] if "ner_b" in head else None
        # multi-schema n-ary heads (v/q/qb/qc — the reference's per-schema
        # re/q_re/q2_re/q3_re classifier triples, modeling_bert.py:
        # 2230-2256; per-schema output order at 2345-2386): optional keys
        # w_v/b_v .. w_qc/b_qc, shape (6H, C_head) — the same lossless
        # vstack(m2.T, m3.T, m1.T) layout as w_re (see class docstring)
        self.multi_heads = {
            name: (head[f"w_{name}"], head[f"b_{name}"])
            for name in MULTI_HEAD_NAMES
            if f"w_{name}" in head and f"b_{name}" in head}

    def encode(self, ids: np.ndarray, att: np.ndarray,
               pos: np.ndarray) -> np.ndarray:
        return self.encode_batch(ids[None], att[None], pos[None])[0]

    def encode_batch(self, ids: np.ndarray, att: np.ndarray,
                     pos: np.ndarray) -> np.ndarray:
        """(B, T) / (B, T, T) / (B, T) -> (B, T, H): ONE transformer
        forward per example chunk — the reference's own DataLoader batching
        (run_re.py:1202-1222), which a per-subject encode() loop forfeits."""
        t = self._torch
        with t.no_grad():
            out = self.model(
                input_ids=t.as_tensor(ids),
                attention_mask=t.as_tensor(att),
                position_ids=t.as_tensor(pos))
        return out.last_hidden_state.cpu().numpy()

    def pair_logits(self, h1: np.ndarray, h2: np.ndarray,
                    hql: np.ndarray, hqr: np.ndarray,
                    hsub_s: np.ndarray, hsub_e: np.ndarray,
                    head: str = "re") -> np.ndarray:
        """Linear over the 6H concat — lossless vs the reference's
        m2(object pair) + m3(qualifier pair) + m1(subject pair) sum; see
        the class docstring for the exact weight stacking.  Absent
        families are a hard error here (never invented weights)."""
        if head not in self.pair_heads:
            raise NotImplementedError(
                f"no w_{head}/b_{head} head weights in {self._head_path}; "
                "export the reference's classifier heads (6H, C) — see "
                "README 'Exporting reference head weights'")
        w, b = self.pair_heads[head]
        feats = np.concatenate(
            [h1, h2, hql, hqr,
             np.broadcast_to(hsub_s, h1.shape),
             np.broadcast_to(hsub_e, h1.shape)], axis=-1)
        return feats @ w + b

    def span_logits(self, h1: np.ndarray, h2: np.ndarray,
                    num_classes: int) -> np.ndarray:
        """NER head (outputs[1]/outputs[3], run_re.py:1250): linear over the
        marker-pair states, weights from optional ``ner_w``/``ner_b`` keys
        in nary_heads.npz (cached at load) — absent keys are a hard error
        at first use, same policy as the relation heads."""
        if self.ner_w is None or self.ner_b is None:
            raise NotImplementedError(
                f"no NER head weights (ner_w/ner_b) in {self._head_path}; "
                "export the reference's ner classifier to use "
                "predicted-NER mode with a real checkpoint")
        out = np.concatenate([h1, h2], axis=-1) @ self.ner_w + self.ner_b
        assert out.shape[-1] == num_classes
        return out

    def head_logits(self, h1: np.ndarray, h2: np.ndarray,
                    hql: np.ndarray, hqr: np.ndarray,
                    hsub_s: np.ndarray, hsub_e: np.ndarray,
                    num_classes: int, head_idx: int) -> np.ndarray:
        """Multi-schema n-ary head: linear over the 6H concat (object
        left/right, qualifier left/right, subject start/end), weights from
        ``w_{name}``/``b_{name}`` in nary_heads.npz (name in v/q/qb/qc —
        the reference's per-schema re/q_re/q2_re/q3_re classifier triples,
        modeling_bert.py:2230-2256; output order 2345-2386).  Lossless vs
        the reference's three-Linear sum — same stacking as w_re.  Absent
        keys are a hard error: fake head weights would mean
        confidently-wrong facts."""
        name = MULTI_HEAD_NAMES[head_idx]
        if name not in self.multi_heads:
            raise NotImplementedError(
                f"no multi-schema head weights (w_{name}/b_{name}) in "
                f"{self._head_path}; export the reference's per-schema "
                "classifier heads — see README 'Exporting reference head "
                "weights'")
        w, b = self.multi_heads[name]
        feats = np.concatenate(
            [h1, h2, hql, hqr,
             np.broadcast_to(hsub_s, h1.shape),
             np.broadcast_to(hsub_e, h1.shape)], axis=-1)
        out = feats @ w + b
        assert out.shape[-1] == num_classes
        return out


def load_torch_encoder(checkpoint_dir: str, num_classes: int):
    """Gated import — torch/transformers bind only at weight-load time;
    returns an object satisfying the MiniEncoder contract."""
    try:
        import torch  # noqa: F401
        import transformers  # noqa: F401
    except ImportError as e:  # pragma: no cover - not shipped here
        raise NotImplementedError(
            "loading a real checkpoint needs torch+transformers (not "
            "shipped in this container); pass checkpoint='mini' for the "
            "deterministic numpy encoder") from e
    return TorchEncoderAdapter(checkpoint_dir, num_classes)  # pragma: no cover


class ModelScorer:
    """Per-subject packed-marker scoring with the reference's batch shapes.

    ``score_sentence(tokens, entities, cand)`` returns (rel_logits,
    q_logits) rows aligned with the candidate enumeration order, i.e. a
    drop-in for the 'hash'/'gold' scorers in the extraction UDFs.
    """

    def __init__(self, checkpoint: str = "mini", max_seq_length: int = 256,
                 max_pair_length: int = 32, num_classes: int = 11,
                 variant: str = "bertsub"):
        self.max_seq_length = max_seq_length
        self.max_pair_length = max_pair_length
        # M6 — variant registry (run_re.py:68-72).  Relation/qualifier
        # heads are identical across all three; 'bertnonersub' drops the
        # NER head (modeling_bert.py:2933-3010 has no outputs[1]), and
        # 'albertsub' only changes the encoder family, which real-weight
        # loading resolves from the checkpoint config via AutoModel — the
        # packed-marker wiring and head topology here are unchanged.
        if variant not in ("bertsub", "bertnonersub", "albertsub"):
            raise ValueError(f"unknown model variant: {variant}")
        self.variant = variant
        self.has_ner_head = variant != "bertnonersub"
        if checkpoint == "mini":
            self.encoder = MiniEncoder(num_classes=num_classes)
        else:
            self.encoder = load_torch_encoder(checkpoint, num_classes)

    def _token_ids(self, tokens: list[str]) -> list[int]:
        """Identity-vocab ids (stable per surface) with special tokens."""
        import zlib

        ids = []
        for t in tokens:
            if t == "[CLS]":
                ids.append(CLS_ID)
            elif t == SUB_L:
                ids.append(1)
            elif t == SUB_R:
                ids.append(2)
            else:
                ids.append(zlib.crc32(t.encode("utf-8")) % 28000 + 1000)
        ids.append(SEP_ID)
        return ids

    def _entity_groups(self, e: int) -> list[np.ndarray]:
        """Entity-index groups whose pairwise UNIONS fit max_pair_length.

        E <= P: one group, one packed batch per subject — the reference's
        single-chunk case (E^2 <= max_pair_length^2, run_re.py:577).
        E > P: groups of P//2; each (object-group, qualifier-group) pair is
        scored in its own batch packing the union — the scale
        generalization of the reference's dL chunk loop, bounded at P
        marker pairs per model example for ANY entity count.
        """
        p = self.max_pair_length
        if e <= p:
            return [np.arange(e)]
        half = max(p // 2, 1)
        return [np.arange(g, min(g + half, e)) for g in range(0, e, half)]

    #: model examples per encoder call — bounds the stacked (B, T, T) mask
    #: memory (T = max_seq_length + 2 * max_pair_length) while amortizing
    #: the per-call dispatch; 16 examples at T=320 is ~13 MB of masks
    batch_examples: int = 16

    def _encode_examples(self, packed: list[PackedBatch]) -> np.ndarray:
        """Stack packed examples and run ONE encoder pass per chunk —
        mirrors the reference's DataLoader batching across subjects
        (run_re.py:1202-1222).  Falls back to per-example encode() for
        encoders that only implement the single-example contract."""
        if not hasattr(self.encoder, "encode_batch"):
            return np.stack([
                self.encoder.encode(b.input_ids, b.attention_mask,
                                    b.position_ids)
                for b in packed])
        return self.encoder.encode_batch(
            np.stack([b.input_ids for b in packed]),
            np.stack([b.attention_mask for b in packed]),
            np.stack([b.position_ids for b in packed]))

    def _build_examples(self, tokens: list[str], entities: np.ndarray,
                        cand: np.ndarray) -> list[tuple]:
        """Phase 1 — lightweight descriptors only (token ids + span
        slices); the heavy tensors (the (T, T) masks) are packed lazily per
        chunk in phase 2, so peak memory is batch_examples masks — not one
        per example, which at E=128 entities would hold ~GBs of masks
        alive.  Returns (ids, sub_position, spans, sel, ju, ku) tuples."""
        e = entities.shape[0]
        groups = self._entity_groups(e)
        group_of = np.zeros(e, dtype=np.int64)
        for gi, g in enumerate(groups):
            group_of[g] = gi

        examples: list[tuple] = []
        for i in np.unique(cand[:, 1]):
            sel = np.nonzero(cand[:, 1] == i)[0]
            jj, kk = cand[sel, 2], cand[sel, 3]
            sub_s, sub_e = int(entities[i, 0]), int(entities[i, 1])
            # marker INSERTION positions are in the [CLS]-prefixed list,
            # hence +1; marker_shifted_span takes RAW token positions — its
            # ``+1`` IS the reference's [CLS] shift (run_re.py:477
            # ``token2subword[..] - doc_offset + 1``), so passing +1 here
            # would double-count the offset
            marked, sub_position = insert_subject_markers(
                ["[CLS]"] + list(tokens), sub_s + 1, sub_e + 1)
            ids = self._token_ids(marked)
            left, right = marker_shifted_span(
                entities[:, 0], entities[:, 1], sub_s, sub_e)
            spans = np.column_stack([left, right])
            # each candidate (j, k) scores in the batch packing
            # union(group(j), group(k)) — one example total when E <= P
            batch_key = group_of[jj] * len(groups) + group_of[kk]
            for bk in np.unique(batch_key):
                bsel = np.nonzero(batch_key == bk)[0]
                ga = groups[int(bk) // len(groups)]
                gb = groups[int(bk) % len(groups)]
                union = np.union1d(ga, gb)
                ju = np.searchsorted(union, jj[bsel])
                ku = np.searchsorted(union, kk[bsel])
                examples.append(
                    (ids, sub_position, spans[union], sel[bsel], ju, ku))
        return examples

    def _encoded_examples(self, examples: list[tuple]):
        """Phase 2 — pack + encode example chunks (one forward per chunk);
        yields per-example (hidden_states, packed, sel, ju, ku) for the
        caller to scatter marker states into its logit rows."""
        s = self.max_seq_length
        p = self.max_pair_length
        for lo in range(0, len(examples), self.batch_examples):
            chunk = [
                (packed_candidate_batch(ids_, subp_, sp_, sp_, s, p),
                 selb_, ju_, ku_)
                for ids_, subp_, sp_, selb_, ju_, ku_
                in examples[lo:lo + self.batch_examples]]
            h_b = self._encode_examples([ex[0] for ex in chunk])
            for z, (batch, selb, ju, ku) in enumerate(chunk):
                yield h_b[z], batch, selb, ju, ku

    def score_sentence(
        self, tokens: list[str], entities: np.ndarray, cand: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        n = cand.shape[0]
        c = self.encoder.num_classes
        rel = np.zeros((n, c), dtype=np.float32)
        qul = np.zeros((n, c), dtype=np.float32)
        s = self.max_seq_length
        p = self.max_pair_length
        examples = self._build_examples(tokens, entities, cand)
        for h, batch, selb, ju, ku in self._encoded_examples(examples):
            # the six states every reference head consumes
            # (modeling_bert.py:2309-2325): object markers (j), qualifier
            # markers (k), subject start/end — kept DISTINCT (no summing)
            # so a real-checkpoint export reproduces reference logits
            # exactly
            hsub_s = h[batch.sub_position[0]]
            hsub_e = h[batch.sub_position[1]]
            h1 = h[s + ju]         # object left markers per candidate
            h2 = h[s + p + ju]     # object right markers per candidate
            hql = h[s + ku]        # qualifier left markers
            hqr = h[s + p + ku]    # qualifier right markers
            rel[selb] = self.encoder.pair_logits(
                h1, h2, hql, hqr, hsub_s, hsub_e, "re")
            qul[selb] = self.encoder.pair_logits(
                h1, h2, hql, hqr, hsub_s, hsub_e, "qre")
        return rel, qul

    def score_sentence_multi(
        self, tokens: list[str], entities: np.ndarray, cand: np.ndarray,
        widths: tuple[int, ...]
    ) -> list[np.ndarray]:
        """Event/role/hypergraph scoring: one logit array per n-ary head
        (v, q[, qb[, qc]]) with per-schema widths — the reference's extra
        q2/q3 qualifier classifiers (modeling_bert.py:2327-2335, consumed
        by the decode at run_re.py:1519-1628 / 1764-1862).  Same packed-
        marker batching as :meth:`score_sentence`; each head reads the same
        marker states through its own classifier."""
        n = cand.shape[0]
        outs = [np.zeros((n, c), dtype=np.float32) for c in widths]
        s = self.max_seq_length
        p = self.max_pair_length
        examples = self._build_examples(tokens, entities, cand)
        for h, batch, selb, ju, ku in self._encoded_examples(examples):
            hsub_s = h[batch.sub_position[0]]
            hsub_e = h[batch.sub_position[1]]
            h1 = h[s + ju]
            h2 = h[s + p + ju]
            hql = h[s + ku]
            hqr = h[s + p + ku]
            for hi, c in enumerate(widths):
                outs[hi][selb] = self.encoder.head_logits(
                    h1, h2, hql, hqr, hsub_s, hsub_e, c, hi)
        return outs

    def predict_mention_ner(
        self, tokens: list[str], entities: np.ndarray, n_ner_classes: int
    ) -> np.ndarray:
        """M5 — per-mention NER label ids: argmax of the NER head over each
        mention's levitated marker-pair states (the outputs[1] argmax at
        run_re.py:1250, surfaced as one canonical prediction per mention
        instead of one per (subject, candidate) tuple — the reference
        computes it per subject-marked example and then never reads it,
        because pos2ner is rebuilt from the input NER for every emitted
        item, run_re.py:1482-1485).

        Canonical packing: no subject markers; spans shift only past the
        leading [CLS]; sub_position = (0, 0) so the CLS state stands in for
        the subject slot.  Chunked at max_pair_length rows for any E.
        """
        if not self.has_ner_head:
            raise NotImplementedError(
                "model variant 'bertnonersub' has no NER head (the "
                "reference's NoNer model returns no outputs[1]); run with "
                "use_ner_results=True, as the reference pairs it")
        e = entities.shape[0]
        if e == 0:
            return np.empty(0, dtype=np.int64)
        s, p = self.max_seq_length, self.max_pair_length
        ids = self._token_ids(["[CLS]"] + list(tokens))
        spans = np.column_stack([entities[:, 0] + 1, entities[:, 1] + 1])
        out = np.empty(e, dtype=np.int64)
        starts = list(range(0, e, p))
        # encode at most batch_examples packed examples per forward — the
        # same bound score_sentence enforces (a 4096-mention sentence must
        # not become one 128-example transformer batch)
        for c0 in range(0, len(starts), self.batch_examples):
            chunk_starts = starts[c0:c0 + self.batch_examples]
            packed = [
                packed_candidate_batch(
                    ids, (0, 0), spans[lo:lo + p], spans[lo:lo + p], s, p)
                for lo in chunk_starts]
            h_b = self._encode_examples(packed)
            for z, lo in enumerate(chunk_starts):
                r = packed[z].n_rows
                h = h_b[z]
                lg = self.encoder.span_logits(
                    h[s:s + r], h[s + p:s + p + r], n_ner_classes)
                out[lo:lo + r] = np.argmax(lg, axis=-1)
        return out
