"""T1/T2 — tokenization + cross-sentence context windowing
(run_re.py:223-230, 276-327), numpy-side (used inside the scoring UDFs).

The reference tokenizes with a HuggingFace wordpiece, which is not a
dependency here; two deterministic stand-ins exercise the same arithmetic
(a real tokenizer plugs in through the same ``tokenize_word`` method):

* ``IdentityTokenizer`` — 1 token == 1 subword (what the deterministic
  pipeline uses; span arithmetic collapses to the identity).
* ``FakeWordpieceTokenizer`` — deterministically splits words longer than
  ``piece_len`` into pieces, producing non-trivial token2subword prefix
  sums so the windowing/pruning math is tested in the general case.

``context_window`` reproduces the reference's greedy symmetric context
borrowing: center the sentence, extend into the shorter side first
(run_re.py:311-324).
"""

from __future__ import annotations

import itertools


class IdentityTokenizer:
    def tokenize_word(self, w: str) -> list[str]:
        return [w]


class FakeWordpieceTokenizer:
    def __init__(self, piece_len: int = 4):
        self.piece_len = piece_len

    def tokenize_word(self, w: str) -> list[str]:
        p = self.piece_len
        if len(w) <= p:
            return [w]
        return [w[:p]] + [f"##{w[i:i+p]}" for i in range(p, len(w), p)]


def subword_maps(sentences: list[list[str]], tokenizer) -> dict:
    """token2subword prefix sums + subword sentence boundaries
    (run_re.py:284-290)."""
    sentence_boundaries = [0]
    words: list[str] = []
    total = 0
    for s in sentences:
        total += len(s)
        sentence_boundaries.append(total)
        words.extend(s)
    tokens = [tokenizer.tokenize_word(w) for w in words]
    subwords = [p for li in tokens for p in li]
    token2subword = [0] + list(itertools.accumulate(len(li) for li in tokens))
    subword_sentence_boundaries = [
        sum(len(li) for li in tokens[:p]) for p in sentence_boundaries
    ]
    return {
        "words": words,
        "subwords": subwords,
        "token2subword": token2subword,
        "subword_sentence_boundaries": subword_sentence_boundaries,
    }


def context_window(
    doc_sent_start: int,
    doc_sent_end: int,
    n_subwords: int,
    max_num_subwords: int,
) -> tuple[int, int]:
    """Greedy symmetric context borrow (run_re.py:307-324).

    Returns (doc_offset, window_end): the subword range
    [doc_offset, window_end) centered on the sentence, extended into the
    shorter document side first.  When the sentence itself exceeds the
    budget the reference leaves the context lengths at 0 via the
    ``sentence_length < max_num_subwords`` guard (stale-variable quirk is
    avoided here by explicit zeros — run_re.py only enters eval with short
    sentences).
    """
    left_length = doc_sent_start
    right_length = n_subwords - doc_sent_end
    sentence_length = doc_sent_end - doc_sent_start
    half = int((max_num_subwords - sentence_length) / 2)

    left_context_length = right_context_length = 0
    if sentence_length < max_num_subwords:
        if left_length < right_length:
            left_context_length = min(left_length, half)
            right_context_length = min(
                right_length,
                max_num_subwords - left_context_length - sentence_length)
        else:
            right_context_length = min(right_length, half)
            left_context_length = min(
                left_length,
                max_num_subwords - right_context_length - sentence_length)

    doc_offset = doc_sent_start - left_context_length
    return doc_offset, doc_sent_end + right_context_length
