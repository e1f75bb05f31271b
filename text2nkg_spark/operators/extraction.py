"""Hyperrelation extraction — one Arrow UDF, scan → facts (SURVEY.md §2.9).

``extract_facts_fused`` takes the flat sentence contract
``plans.pipeline.prepare_sentences`` emits (conv_id, turn_idx, text,
m_starts, m_ends [, gold_relations]) and runs three phases per Arrow batch,
the reference's score-then-decode ``evaluate()`` loop (run_re.py:1259-1277):

* phase 1, ``_sentence_batch`` — enumerate every sentence's span triples
  (C3);
* phase 2, ``_batch_logits`` — score every candidate of the batch (M1-M5
  stand-in) into one float32 logit buffer per head: hash in cache-sized
  vectorized slices, gold/model per sentence (``_sentence_logits``);
* phase 3 — decode the batch in one ``decode_sentences_batch`` call
  (6-permutation ensemble + direction normalize + NMS, D2-D5) and project
  fact texts (G1).

Logits never become Spark rows, so extraction is SHUFFLE-FREE end to end —
scan → one Arrow UDF → facts: throughput scales linearly with input splits
and there is no wide dependency to skew.

It refuses a non-hyperrelation ``nary_schema`` at plan time
(``extraction_multi.extract_facts_multi`` serves the others).  Scorers are
deterministic numpy (scoring_core.py) or the packed-marker ``ModelScorer``,
loaded once per python worker (``_worker_model_scorer``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from text2nkg_spark.candidates import enumerate_triples
from text2nkg_spark.config import PipelineConfig
from text2nkg_spark.decode_core import decode_sentences_batch
from text2nkg_spark.labels import LabelSpace
from text2nkg_spark.scoring_core import (
    gold_logits, gold_orderings, hash_logits_batch, log_softmax)

FACT_SCHEMA = (
    "conv_id string, turn_idx int, pred_idx int, "
    "m1s int, m1e int, m2s int, m2e int, rel string, "
    "m3s int, m3e int, qual string, rel_score double, q_score double, "
    "subj string, obj string, value string"
)


def stable_doc_id(conv_id: str) -> int:
    """Numeric doc key for hash scoring — shared with the test oracle."""
    if conv_id.startswith("conv") and conv_id[4:].isdigit():
        return int(conv_id[4:])
    import zlib

    return zlib.crc32(conv_id.encode("utf-8"))


# one scorer per python worker (executor-local model load — never
# broadcast weights through the driver); keyed by the config that shapes it
_WORKER_SCORERS: dict = {}


def _make_tokenizer(cfg: PipelineConfig):
    from text2nkg_spark.tokenization import (
        FakeWordpieceTokenizer, IdentityTokenizer)

    if cfg.tokenizer == "wordpiece":
        return FakeWordpieceTokenizer(cfg.wordpiece_piece_len)
    if cfg.tokenizer == "identity":
        return IdentityTokenizer()
    raise ValueError(f"unknown tokenizer '{cfg.tokenizer}'")


def _enumerate(cfg: PipelineConfig, ents: np.ndarray, text: str, tokenizer):
    """Candidate enumeration under the configured tokenizer: identity uses
    the vectorized full-grid path; wordpiece maps the pruning bounds
    through token2subword prefix sums (run_re.py:490-491, 516-517)."""
    if cfg.tokenizer == "identity":
        return enumerate_triples(ents, cfg.max_seq_length)
    from text2nkg_spark.candidates import (
        enumerate_triples_subword, token2subword_array)

    t2s = token2subword_array(text.split(" "), tokenizer)
    return enumerate_triples_subword(ents, cfg.max_seq_length, t2s)


def _worker_model_scorer(cfg: PipelineConfig, num_classes: int):
    """The worker's ModelScorer for this config: every model-scored UDF
    (``extract_facts_fused``, ``predicted_ner_table``, the multi-schema
    ``score_heads``) loads its weights through here.  ``num_classes`` is
    ``score_sentence``'s output width; the multi-schema heads pass their
    widths explicitly, so any cached width serves them."""
    from text2nkg_spark.operators.model_scorer import ModelScorer

    key = (cfg.model_checkpoint, cfg.max_seq_length, cfg.max_pair_length,
           num_classes, cfg.model_variant)
    if key not in _WORKER_SCORERS:
        _WORKER_SCORERS[key] = ModelScorer(
            cfg.model_checkpoint, cfg.max_seq_length, cfg.max_pair_length,
            num_classes, variant=cfg.model_variant)
    return _WORKER_SCORERS[key]


def _sentence_logits(
    cfg: PipelineConfig,
    space: LabelSpace,
    doc_id: int,
    sent_idx: int,
    cand: np.ndarray,
    gold_rels: list | None,
    entities: np.ndarray,
    text: str,
) -> tuple[np.ndarray, np.ndarray]:
    """(rel, qual) float32 logits of one sentence's candidates under the
    gold or model scorer (hash scores whole batches in ``_batch_logits``)."""
    c = space.num_classes
    if cfg.scorer == "gold":
        gi = gold_orderings(gold_rels or [], space.label_map())
        rel, qul = gold_logits(
            doc_id, sent_idx, cand[:, 4:10], c, gi, cfg.hash_seed,
            cfg.gold_weight)
    else:
        rel, qul = _worker_model_scorer(cfg, c).score_sentence(
            text.split(" "), entities, cand)
    if cfg.log_softmax:
        rel = log_softmax(rel)
        qul = log_softmax(qul)
    return rel, qul


def _gold_rel_tuples(rels) -> list:
    """Normalize a gold relations cell to tuples.

    Accepts the to_json string contract from prepare_sentences (the fast
    Arrow path — one string per row instead of nested struct cells) as
    well as ndarray/list of Row/dict (direct callers and older tests)."""
    out = []
    if rels is None:
        return out
    if isinstance(rels, str):
        import json

        rels = json.loads(rels)
    for r in rels:
        d = r if isinstance(r, dict) else r.asDict(recursive=True)
        quals = d["quals"]
        out.append(
            (int(d["h_s"]), int(d["h_e"]), int(d["t_s"]), int(d["t_e"]),
             d["rel"],
             [(int(q["q_s"]), int(q["q_e"]), q["label"])
              for q in (quals if quals is not None else [])]))
    return out


def _entity_spans(starts, ends) -> np.ndarray:
    """(m_starts, m_ends) int arrays -> (E, 2) span matrix."""
    if starts is None or len(starts) == 0:
        return np.empty((0, 2), dtype=np.int64)
    return np.column_stack(
        [np.asarray(starts, dtype=np.int64), np.asarray(ends, dtype=np.int64)])


def _check_input(columns: list[str], cfg: PipelineConfig) -> bool:
    """Plan-time check of an input's ``columns`` and the config, shared by
    the UDF and ``run_pipeline``, so a bad input or config fails on the
    driver before any work, not inside an executor.  Returns whether the
    gold scorer reads ``gold_relations``."""
    if cfg.nary_schema != "hyperrelation":
        raise ValueError(
            f"nary_schema={cfg.nary_schema!r}: this path extracts "
            "hyperrelation facts only; use extraction_multi."
            "extract_facts_multi for the event/role/hypergraph schemas")
    if cfg.scorer != "gold":
        return False
    if "gold_relations" not in columns:
        raise ValueError(
            "scorer='gold' needs a gold_relations column: build the input "
            "with prepare_sentences(transcripts, gold)")
    return True


def _sentence_batch(pdf: pd.DataFrame, cfg: PipelineConfig, tokenizer):
    """Phase 1: enumerate every sentence of an Arrow batch.

    Returns ``([(row, doc_id, ents, cand, lo, hi)], n)``: the sentences
    with at least one candidate, each with its rows ``lo:hi`` of the
    batch's logit buffers, and the candidate total ``n``."""
    conv_ids = pdf["conv_id"].to_numpy()
    text_col = pdf["text"].to_numpy()
    starts_col = pdf["m_starts"].to_numpy()
    ends_col = pdf["m_ends"].to_numpy()
    sent: list[tuple] = []
    pos = 0
    for r in range(len(pdf)):
        ents = _entity_spans(starts_col[r], ends_col[r])
        if ents.shape[0] == 0:
            continue
        cand = _enumerate(cfg, ents, text_col[r], tokenizer)
        if cand.shape[0] == 0:
            continue
        sent.append((r, stable_doc_id(conv_ids[r]), ents, cand,
                     pos, pos + cand.shape[0]))
        pos += cand.shape[0]
    return sent, pos


def _batch_logits(pdf: pd.DataFrame, sent: list, n: int,
                  cfg: PipelineConfig, space: LabelSpace, use_gold: bool):
    """Phase 2: score the batch's ``n`` candidates into one
    float32 (n, C) buffer per head, sentence ``lo:hi`` in its rows."""
    c = space.num_classes
    turn_idxs = pdf["turn_idx"].to_numpy()
    rel_all = np.empty((n, c), dtype=np.float32)
    q_all = np.empty((n, c), dtype=np.float32)
    if cfg.scorer == "hash":
        # the whole batch vectorized, in 32k-candidate slices (row-wise
        # ops, so identical values): a ~5 MB working set stays L2/L3
        # resident, which scales better on bandwidth-bound executors
        counts = [s[5] - s[4] for s in sent]
        all_triples = np.concatenate([s[3][:, 4:10] for s in sent])
        doc_arr = np.repeat(
            np.array([s[1] for s in sent], dtype=np.int64), counts)
        sent_arr = np.repeat(
            turn_idxs[[s[0] for s in sent]].astype(np.int64), counts)
        for lo in range(0, n, 32768):
            sl = slice(lo, lo + 32768)
            for buf, which in ((rel_all, 0), (q_all, 1)):
                lg = hash_logits_batch(doc_arr[sl], sent_arr[sl],
                                       all_triples[sl], c, cfg.hash_seed,
                                       which)
                buf[sl] = log_softmax(lg) if cfg.log_softmax else lg
        return rel_all, q_all
    text_col = pdf["text"].to_numpy()
    gold_col = pdf["gold_relations"].to_numpy() if use_gold else None
    for r, doc_id, ents, cand, lo, hi in sent:
        gold = _gold_rel_tuples(gold_col[r]) if use_gold else None
        rel_all[lo:hi], q_all[lo:hi] = _sentence_logits(
            cfg, space, doc_id, int(turn_idxs[r]), cand, gold, ents,
            text_col[r])
    return rel_all, q_all


def extract_facts_fused(df, cfg: PipelineConfig, space: LabelSpace):
    """Fused scan→facts extraction.

    Input columns (flat Arrow-friendly contract — struct/token arrays cost
    ~2x in Arrow->pandas conversion, see ``plans.pipeline.
    prepare_sentences``): conv_id, turn_idx, text (string), m_starts
    (array<int>), m_ends (array<int>); plus gold_relations when
    cfg.scorer == 'gold' (ValueError here when it is missing).  Each Arrow
    batch is enumerated, scored and decoded as one unit (module docstring).
    """
    use_gold = _check_input(df.columns, cfg)
    strict = cfg.tokenizer == "identity"  # pruned orderings: wordpiece only

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tokenizer = _make_tokenizer(cfg)
        for pdf in batches:
            sent, n = _sentence_batch(pdf, cfg, tokenizer)
            if not sent:
                yield pd.DataFrame(columns=_FACT_COLS)
                continue
            rel_all, q_all = _batch_logits(pdf, sent, n, cfg, space, use_gold)
            # phase 3 — decode the whole batch (one tensor pipeline per
            # entity-count group, see decode_sentences_batch)
            batched = decode_sentences_batch(
                [s_[2:] for s_ in sent], rel_all, q_all, space,
                same_entity=cfg.same_entity, strict=strict,
                unidirect=cfg.eval_unidirect)
            conv_ids = pdf["conv_id"].to_numpy()
            turn_idxs = pdf["turn_idx"].to_numpy()
            text_col = pdf["text"].to_numpy()
            out: list[tuple] = []
            for (r, *_), preds in zip(sent, batched):
                if not preds:
                    continue
                conv_id = conv_ids[r]
                turn_idx = int(turn_idxs[r])
                tokens = text_col[r].split(" ")
                for pi, p in enumerate(preds):
                    m1s, m1e, m2s, m2e, rel, m3s, m3e, qual, sc, qsc = p
                    out.append(
                        (conv_id, turn_idx, pi, m1s, m1e, m2s, m2e, rel,
                         m3s, m3e, qual, sc, qsc,
                         " ".join(tokens[m1s:m1e + 1]),
                         " ".join(tokens[m2s:m2e + 1]),
                         " ".join(tokens[m3s:m3e + 1])))
            yield pd.DataFrame(out, columns=_FACT_COLS)

    return df.mapInPandas(run, schema=FACT_SCHEMA)


_FACT_COLS = [
    "conv_id", "turn_idx", "pred_idx", "m1s", "m1e", "m2s", "m2e", "rel",
    "m3s", "m3e", "qual", "rel_score", "q_score", "subj", "obj", "value"]
