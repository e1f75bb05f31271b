"""Output checks applied to every benchmark run.

* ``check_batch`` — row-count identities across the pipeline's tables and,
  for a seeded sample of conversations, ``compacted.canonical_json`` equal
  to the driver-side oracle chain (``reference_oracle.decode_sentence`` over
  ``hash_logits`` -> ``gran_facts`` -> ``compact_facts``), the chain
  ``tests/test_pipeline_e2e.py`` checks the gold scorer against.
* ``check_stream`` — the facts the stream wrote equal ``extract_facts_fused``
  over the same files, as multisets (row count and sum of row hashes).

Each returns a list of failure messages; empty means the output is right.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import DataFrame, functions as F

from text2nkg_spark import reference_oracle as oracle
from text2nkg_spark.candidates import enumerate_triples
from text2nkg_spark.config import PipelineConfig
from text2nkg_spark.datagen import gen_turn
from text2nkg_spark.labels import LabelSpace
from text2nkg_spark.operators.extraction import _FACT_COLS, stable_doc_id
from text2nkg_spark.scoring_core import hash_logits, log_softmax

# candidates the oracle sample decodes per run: the dict-based reference
# decode is pure Python, so the sample is bounded by work, not by turns
ORACLE_CANDIDATES = 40_000

_SAME_ROWS = (("predictions", "facts", "fact_qualifiers"),
              ("main_triples", "compacted", "facts_canonical"))


def sample_convs(gen_cfg, seed: int) -> list[int]:
    """Seeded conversation sample, taken until ORACLE_CANDIDATES."""
    order = list(range(gen_cfg.n_convs))
    random.Random(seed).shuffle(order)
    picked, cost = [], 0
    for c in order:
        picked.append(c)
        for t in range(gen_cfg.turns_per_conv):
            cost += len(gen_turn(gen_cfg, c, t)["mentions"]) ** 3
        if cost >= ORACLE_CANDIDATES:
            break
    return sorted(picked)


def oracle_compacted(gen_cfg, convs: list[int], cfg: PipelineConfig,
                     space: LabelSpace) -> set[tuple]:
    """(conv_id, turn_idx, canonical_json) the reference chain emits."""
    c = space.num_classes
    want = set()
    for conv in convs:
        for t in range(gen_cfg.turns_per_conv):
            d = gen_turn(gen_cfg, conv, t)
            ents = np.asarray(d["mentions"], dtype=np.int64).reshape(-1, 2)
            cand = enumerate_triples(ents, cfg.max_seq_length)
            if cand.shape[0] == 0:
                continue
            doc = stable_doc_id(d["conv_id"])
            rel = log_softmax(hash_logits(
                doc, t, cand[:, 4:10], c, cfg.hash_seed, 0))
            qual = log_softmax(hash_logits(
                doc, t, cand[:, 4:10], c, cfg.hash_seed, 1))
            spans = [tuple(int(x) for x in r) for r in ents]
            pdict = {
                (spans[row[1]], spans[row[2]], spans[row[3]]):
                    (rel[n].tolist(), "Entity", qual[n].tolist(), "Entity")
                for n, row in enumerate(cand.tolist())}
            preds = oracle.decode_sentence(pdict, space, cfg.same_entity)
            lines = oracle.gran_facts(d["text"].split(" "), preds)
            want.update((d["conv_id"], t, cj)
                        for cj in oracle.compact_facts(lines))
    return want


def oracle_sample(gen_cfg, seed: int, cfg: PipelineConfig,
                  space: LabelSpace) -> tuple[list[str], set[tuple]]:
    """(sampled conv_ids, the oracle's compacted rows for them)."""
    convs = sample_convs(gen_cfg, seed)
    return ([f"conv{c:08d}" for c in convs],
            oracle_compacted(gen_cfg, convs, cfg, space))


def check_batch(out: dict[str, DataFrame],
                sample: tuple[list[str], set[tuple]]) -> list[str]:
    errors = []
    counts = {name: out[name].count() for group in _SAME_ROWS
              for name in group}
    if counts["predictions"] == 0:
        errors.append("no predictions")
    for group in _SAME_ROWS:
        if len({counts[n] for n in group}) != 1:
            errors.append("row counts differ: " + ", ".join(
                f"{n}={counts[n]}" for n in group))
    ids, want = sample
    got = {(r.conv_id, r.turn_idx, r.canonical_json) for r in
           out["compacted"].where(F.col("conv_id").isin(ids))
           .select("conv_id", "turn_idx", "canonical_json").collect()}
    if got != want:
        errors.append(
            f"compacted != oracle on {len(ids)} sampled convs: "
            f"{len(got - want)} unexpected, {len(want - got)} missing")
    return errors


def _multiset(df: DataFrame) -> tuple[int, int]:
    """(rows, sum of 64-bit row hashes): equal for equal multisets of
    rows, and for unequal ones only on a hash collision."""
    h = F.xxhash64(*_FACT_COLS).cast("decimal(38,0)")
    r = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return r.n, r.h


def check_stream(stream_out: DataFrame, reference: DataFrame) -> list[str]:
    """``reference``: ``extract_facts_fused`` over the files the stream
    read.  Multiset equality, so a restart that re-emits rows fails."""
    (got, got_h), (want, want_h) = _multiset(stream_out), _multiset(reference)
    if (got, got_h) != (want, want_h):
        return [f"stream facts != extract_facts_fused: {got} rows vs "
                f"{want}" + (", content differs" if got == want else "")]
    return []
