"""Deterministic scorers — pure numpy, shared by the Spark UDFs and the
reference-decode oracle so both see bit-identical logits.

The reference's scorer is a fine-tuned BERT head (modeling_bert.py:2223-2387)
we neither train nor ship; everything that defines Text2NKG's *extraction
semantics* is deterministic given logits (SURVEY.md §7.1).  Two stand-ins:

* ``hash``  — splitmix64-mixed pseudo-logits keyed on
  (doc_id, sent_idx, span-triple, class).  Used for decode-parity testing
  and benchmarks: exercises every decode path with realistic entropy.
* ``gold``  — one-hot logits at the gold 6-ordering labels (the C1 algebra,
  run_re.py:334-364) plus small hash noise; decode recovers the planted
  facts, which is how P/R >= 0.95 vs gold is demonstrated end to end.

Both are vectorized numpy; inside Spark they run under mapInPandas on Arrow
batches (no per-row Python).  ``_lookup_gold_labels`` is the one gold-label
lookup: the hyperrelation gold scorer reads its two columns, the
multi-schema ``score_heads`` one column per head.
"""

from __future__ import annotations

import numpy as np

# -- splitmix64 (public-domain mixing function) -------------------------------

_U64 = np.uint64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 arrays."""
    x = x.astype(np.uint64, copy=True)
    x += _U64(0x9E3779B97F4A7C15)
    z = x
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    z = z ^ (z >> _U64(31))
    return z


def _mix(*parts: np.ndarray) -> np.ndarray:
    """Combine integer arrays into one well-mixed uint64 stream."""
    acc = None
    for p in parts:
        p = np.asarray(p, dtype=np.int64).astype(np.uint64)
        h = splitmix64(p)
        acc = h if acc is None else splitmix64(acc ^ h)
    return acc


def log_softmax(x: np.ndarray) -> np.ndarray:
    """Row-wise log-softmax over the last axis (dtype-preserving, stable).

    Scoring runs in float32 (half the memory traffic — the scoring stage is
    bandwidth-bound at 32 workers); every downstream SUM (6-permutation
    ensemble) upcasts to float64, and the oracle sees the identical float32
    values via ``.tolist()``, so decode parity is bit-exact."""
    m = np.max(x, axis=-1, keepdims=True)
    s = x - m
    return s - np.log(np.sum(np.exp(s), axis=-1, keepdims=True, dtype=x.dtype))


def hash_logits_batch(
    doc_ids: np.ndarray,   # (N,) int64, aligned with triples rows
    sent_idxs: np.ndarray,  # (N,) int64
    triples: np.ndarray,   # (N, 6) int64: m1s, m1e, m2s, m2e, m3s, m3e
    num_classes: int,
    seed: int,
    which: int,  # 0 = rel logits, 1 = qual logits
) -> np.ndarray:
    """(N, C) float64 pseudo-logits in [0, 1); one vectorized pass for a
    whole Arrow batch (rows may span many sentences)."""
    n = triples.shape[0]
    c = num_classes
    key = _mix(
        np.full(n, seed, dtype=np.int64),
        doc_ids,
        sent_idxs,
        triples[:, 0] * 1_000_003 + triples[:, 1],
        triples[:, 2] * 1_000_003 + triples[:, 3],
        triples[:, 4] * 1_000_003 + triples[:, 5],
        np.full(n, which, dtype=np.int64),
    )
    cls = splitmix64(np.arange(c, dtype=np.int64).astype(np.uint64))
    grid = splitmix64(key[:, None] ^ cls[None, :])
    return (grid >> _U64(11)).astype(np.float32) * np.float32(1.0 / (1 << 53))


def hash_logits(
    doc_id: int,
    sent_idx: int,
    triples: np.ndarray,
    num_classes: int,
    seed: int,
    which: int,
) -> np.ndarray:
    """Single-sentence wrapper over :func:`hash_logits_batch`."""
    n = triples.shape[0]
    return hash_logits_batch(
        np.full(n, doc_id, dtype=np.int64),
        np.full(n, sent_idx, dtype=np.int64),
        triples, num_classes, seed, which)


def gold_orderings(
    relations: list[tuple[int, int, int, int, str, list[tuple[int, int, str]]]],
    label_map: dict[str, int],
) -> dict[tuple[int, int, int, int, int, int], tuple[int, int]]:
    """The hyperrelation 6-ordering gold index (C1, run_re.py:341-364).

    For a gold relation (h, t, rel) with qualifier (q, qual), every ordered
    arrangement of the three spans gets a (rel_label, qual_label) pair with
    direction-adjusted ('-1') names.  Keys are
    (m1s, m1e, m2s, m2e, m3s, m3e); later gold rows overwrite earlier ones on
    key collisions exactly like the reference dict assignment.
    """
    out: dict[tuple[int, int, int, int, int, int], tuple[int, int]] = {}
    for hs, he, ts, te, rel, quals in relations:
        inv = rel + "-1"
        for qs, qe, qual in quals:
            qinv = qual + "-1"
            out[(hs, he, ts, te, qs, qe)] = (label_map[rel], label_map[qual])
            out[(ts, te, hs, he, qs, qe)] = (label_map[inv], label_map[qual])
            out[(hs, he, qs, qe, ts, te)] = (label_map[qual], label_map[rel])
            out[(ts, te, qs, qe, hs, he)] = (label_map[qual], label_map[inv])
            out[(qs, qe, hs, he, ts, te)] = (label_map[qinv], label_map[rel])
            out[(qs, qe, ts, te, hs, he)] = (label_map[rel], label_map[qinv])
    return out


def _lookup_gold_labels(
    triples: np.ndarray,
    gold_index: dict[tuple[int, int, int, int, int, int], tuple[int, ...]],
    width: int = 2,
) -> np.ndarray:
    """Vectorized dict.get over (N, 6) keys -> (N, width) label rows: sorted
    structured-array join (sort the G gold keys once, one searchsorted per
    batch) — no per-row Python.  Missing keys map to zeros exactly like the
    reference's ``q_pos2label.get(..., (0, 0))``; ``width`` is the label
    tuple length (2 for hyperrelation, one per head for the multi-schema
    scorers)."""
    out = np.zeros((triples.shape[0], width), dtype=np.int64)
    if not gold_index:
        return out
    gk = np.asarray(list(gold_index.keys()), dtype=np.int64)
    gv = np.asarray(list(gold_index.values()), dtype=np.int64)
    dt = [("", np.int64)] * 6
    gkv = np.ascontiguousarray(gk).view(dt).ravel()
    tv = np.ascontiguousarray(triples.astype(np.int64)).view(dt).ravel()
    order = np.argsort(gkv, kind="stable")
    gkv = gkv[order]
    idx_c = np.minimum(np.searchsorted(gkv, tv), len(gkv) - 1)
    hit = gkv[idx_c] == tv
    out[hit] = gv[order[idx_c[hit]]]
    return out


def gold_logits(
    doc_id: int,
    sent_idx: int,
    triples: np.ndarray,  # (N, 6) int64
    num_classes: int,
    gold_index: dict[tuple[int, int, int, int, int, int], tuple[int, int]],
    seed: int,
    weight: float,
) -> tuple[np.ndarray, np.ndarray]:
    """One-hot gold logits + hash noise; returns (rel_logits, q_logits)."""
    rel = hash_logits(doc_id, sent_idx, triples, num_classes, seed, 0)
    qul = hash_logits(doc_id, sent_idx, triples, num_classes, seed, 1)
    w = np.float32(weight)
    rows = np.arange(triples.shape[0])
    labs = _lookup_gold_labels(triples, gold_index)
    rel[rows, labs[:, 0]] += w
    qul[rows, labs[:, 1]] += w
    return rel, qul
