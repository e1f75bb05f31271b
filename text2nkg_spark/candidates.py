"""Span-triple candidate enumeration (C3, run_re.py:464-557) — pure numpy.

The enumeration ORDER is semantically significant: the reference's decode
iterates the score dict in insertion order (run_re.py:1294-1297), so which of
the 6 orientations of an unordered span triple anchors the ensemble, and the
NMS stable-sort tie-break, both depend on it.  Order is
(subject, object, qualifier) nested loops over the sentence entity list
(run_re.py:466, 493, 521) — we materialize it as
``cand_idx = (i * E + j) * E + k`` over entity positions.

Pruning reproduces the reference's subword-window arithmetic under the
identity tokenizer (1 token == 1 subword, single-sentence window,
doc_offset == 0):

* subject dropped if ``sub_end + 3 >= max_seq_length - 1``
  (markers shift the subject end by 2: run_re.py:482-483, skip at 490).
* object/qualifier dropped if its marker-shifted right position
  ``>= max_seq_length - 1`` (run_re.py:516-517, 544-545); the shift adds 1
  for each of the subject's two markers the span end sits at/after
  (run_re.py:509-512, 537-540).
"""

from __future__ import annotations

import numpy as np


def shifted_right(end: np.ndarray, sub_s: int, sub_e: int) -> np.ndarray:
    """Marker-shifted right position of a span end (identity tokenizer)."""
    right = end + 1
    right = right + (end >= sub_s).astype(np.int64)
    right = right + (end > sub_e).astype(np.int64)
    return right


def token2subword_array(tokens: list[str], tokenizer) -> np.ndarray:
    """Prefix-sum map word index -> first subword index (run_re.py:284-288):
    t2s[i] = number of subwords before word i; t2s[len(tokens)] = total."""
    out = np.zeros(len(tokens) + 1, dtype=np.int64)
    acc = 0
    for i, w in enumerate(tokens):
        acc += len(tokenizer.tokenize_word(w))
        out[i + 1] = acc
    return out


def enumerate_triples_subword(
    entities: np.ndarray,  # (E, 2) int64 TOKEN spans, sentence order
    max_seq_length: int,
    t2s: np.ndarray,       # token2subword prefix sums (len = n_tokens + 1)
) -> np.ndarray:
    """General-tokenizer candidate enumeration: pruning bounds operate on
    SUBWORD positions through the token2subword map while the marker-shift
    increments stay token-level comparisons, exactly as the reference
    (run_re.py:475-477, 490, 505-517, 533-545):

    * subject kept iff ``t2s[sub_end+1] + 2 < max_seq_length - 1``
      (sub_e = token2subword[sub[1]+1], then +2 markers, skip at >= max-1);
    * object/qualifier kept iff its shifted right position
      ``t2s[end+1] (+1 if end >= sub_start) (+1 if end > sub_end)``
      stays under ``max_seq_length - 1``.

    With the identity tokenizer (t2s[i] == i) this reduces bit-for-bit to
    :func:`enumerate_triples` (tests assert).  Output format identical.
    """
    e = entities.shape[0]
    if e == 0:
        return np.empty((0, 10), dtype=np.int64)
    starts = entities[:, 0]
    ends = entities[:, 1]
    end_sw = t2s[ends + 1]  # subword position just past each span

    keep_sub = (end_sw + 2) < (max_seq_length - 1)
    rows: list[np.ndarray] = []
    for i in range(e):
        if not keep_sub[i]:
            continue
        right = end_sw + (ends >= int(starts[i])).astype(np.int64) \
            + (ends > int(ends[i])).astype(np.int64)
        keep_oq = right < (max_seq_length - 1)
        js = np.nonzero(keep_oq)[0]
        if js.size == 0:
            continue
        jj = np.repeat(js, js.size)
        kk = np.tile(js, js.size)
        ii = np.full(jj.size, i, dtype=np.int64)
        cand = (ii * e + jj) * e + kk
        rows.append(np.column_stack(
            [cand, ii, jj, kk,
             starts[ii], ends[ii], starts[jj], ends[jj],
             starts[kk], ends[kk]]))
    if not rows:
        return np.empty((0, 10), dtype=np.int64)
    return np.concatenate(rows, axis=0)


# full E^3 (cand_idx, i, j, k) grids cached per entity count — a pure
# function of E (bounded by mentions per sentence), rebuilt per sentence
# before r7; the span columns still index per-sentence entities
_GRID_CACHE: dict[int, tuple] = {}


def _full_grid(e: int) -> tuple:
    got = _GRID_CACHE.get(e)
    if got is None:
        idx = np.arange(e, dtype=np.int64)
        ii = np.repeat(idx, e * e)
        jj = np.tile(np.repeat(idx, e), e)
        kk = np.tile(idx, e * e)
        cand = (ii * e + jj) * e + kk
        got = _GRID_CACHE[e] = (cand, ii, jj, kk)
    return got


def enumerate_triples(
    entities: np.ndarray,  # (E, 2) int64 spans, sentence order
    max_seq_length: int,
) -> np.ndarray:
    """Returns (N, 10) int64 rows
    [cand_idx, i, j, k, m1s, m1e, m2s, m2e, m3s, m3e]: the candidate index,
    the subject/object/qualifier entity indices, and their three spans.

    Rows appear in exact reference enumeration order with pruned
    subjects/objects/qualifiers removed.
    """
    e = entities.shape[0]
    if e == 0:
        return np.empty((0, 10), dtype=np.int64)
    starts = entities[:, 0]
    ends = entities[:, 1]

    keep_sub = (ends + 3) < (max_seq_length - 1)

    # fast path — nothing pruned (the overwhelmingly common case): the
    # full E^3 cross product in one vectorized shot, already in
    # (i, j, k)-lexicographic enumeration order.  keep_sub.all() also
    # implies no object/qualifier pruning: a span's marker-shifted right
    # position is at most end + 3, the same bound.
    if bool(keep_sub.all()):
        cand, ii, jj, kk = _full_grid(e)
        return np.column_stack(
            [cand, ii, jj, kk,
             starts[ii], ends[ii], starts[jj], ends[jj], starts[kk], ends[kk]])

    # pruned case == the general-tokenizer enumeration under the identity
    # map (t2s[i] == i); one implementation, tests assert the reduction
    t2s = np.arange(int(ends.max()) + 2, dtype=np.int64)
    return enumerate_triples_subword(entities, max_seq_length, t2s)
