"""Spark extraction for the event / role / hypergraph schemas over
normalized reference-shaped documents (operators/normalize.py output).

Same fused mapInPandas architecture as the hyperrelation path; the heads
(v, q, qb, qc) are scored per sentence by ``score_heads`` and decoded by
decode_multi.decode_sentence_multi.  ``score_heads`` shares its parts with
the hyperrelation UDFs: hash noise from ``hash_logits_batch``, gold labels
from the one vectorized lookup (``scoring_core._lookup_gold_labels``, one
column per head), and model heads from the worker's one cached
``ModelScorer`` (``extraction._worker_model_scorer``).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from text2nkg_spark.candidates import enumerate_triples
from text2nkg_spark.config import PipelineConfig
from text2nkg_spark.decode_multi import (
    decode_sentence_multi, gold_orderings_multi)
from text2nkg_spark.operators.extraction import _worker_model_scorer
from text2nkg_spark.scoring_core import (
    _lookup_gold_labels, hash_logits_batch, log_softmax)

_N_HEADS = {"event": 4, "role": 3, "hypergraph": 2}
_HEAD_NAMES = ("v", "q", "qb", "qc")

MULTI_FACT_SCHEMA = (
    "doc_id long, sent_idx int, pred_idx int, rel string, "
    "m1s int, m1e int, m1_label string, "
    "m2s int, m2e int, m2_label string, "
    "m3s int, m3e int, m3_label string"
)


@dataclass(frozen=True)
class SchemaLabels:
    """Separate relation/qualifier label spaces (run_re.py:129-131)."""

    rel_labels: tuple[str, ...]
    qual_labels: tuple[str, ...]

    @property
    def label_list(self) -> list[str]:
        return ["NIL"] + list(self.rel_labels)

    @property
    def q_label_list(self) -> list[str]:
        return ["NIL"] + list(self.qual_labels)


def labels_from_normalized(norm_df, schema: str) -> SchemaLabels:
    """Distinct relation + qualifier/role labels from a normalized corpus.

    ONE Spark job: the four label streams (rel, qual labels, role_h,
    role_t) project off the same exploded lineage and union into a single
    distinct — not four separate collect()s (the vocab is tiny, but four
    full corpus scans for it were still four jobs)."""
    from pyspark.sql import functions as F

    x = norm_df.select(F.explode("relations").alias("x"))
    streams = [
        x.select(F.col("x.rel").alias("lab"), F.lit("rel").alias("kind"))]
    # quals is array<struct>; .label projects the array of labels
    streams.append(
        x.select(F.explode(F.col("x.quals.label")).alias("lab"),
                 F.lit("qual").alias("kind")))
    if schema in ("event", "role"):
        streams.append(x.select(
            F.col("x.role_h").alias("lab"), F.lit("qual").alias("kind")))
    if schema == "event":
        streams.append(x.select(
            F.col("x.role_t").alias("lab"), F.lit("qual").alias("kind")))
    labs = streams[0]
    for s in streams[1:]:
        labs = labs.unionByName(s)
    rows = labs.where(F.col("lab").isNotNull()).distinct().collect()
    rels = sorted({r["lab"] for r in rows if r["kind"] == "rel"})
    quals = {r["lab"] for r in rows if r["kind"] == "qual"}
    if schema == "role":
        # role's 'rel' slot holds the T-mention's role — all role-schema
        # labels live in the single q_label space (run_re.py:399-430)
        quals |= set(rels)
    return SchemaLabels(tuple(rels), tuple(sorted(quals)))


def head_width(schema: str, head_idx: int, labels: SchemaLabels) -> int:
    """Per-schema head widths: the reference's label maps
    (run_re.py:366-463) — event v is relation-space, its q/qb/qc are
    qualifier-space; role heads are all qualifier-space
    (pos2label/q_pos2label use q_label_map throughout, run_re.py:401-430);
    hypergraph heads are both relation-space (run_re.py:434-441)."""
    if schema == "event":
        return len(labels.label_list) if head_idx == 0 else len(labels.q_label_list)
    if schema == "role":
        return len(labels.q_label_list)
    return len(labels.label_list)


def _rel_cell_to_dicts(cell) -> list[dict]:
    out = []
    for r in cell if cell is not None else []:
        d = r if isinstance(r, dict) else r.asDict(recursive=True)
        d["quals"] = [
            q if isinstance(q, dict) else q.asDict()
            for q in (d["quals"] if d["quals"] is not None else [])
        ]
        out.append(d)
    return out


def score_heads(
    schema: str,
    cfg: PipelineConfig,
    labels: SchemaLabels,
    doc_id: int,
    sent_idx: int,
    cand: np.ndarray,
    gold_rels: list[dict] | None,
    ents: np.ndarray | None = None,
    tokens: list[str] | None = None,
) -> dict[str, np.ndarray]:
    """Per-candidate logits for each head: hash noise (+ gold one-hots for
    scorer='gold'), or the packed-marker model heads for scorer='model' —
    the q2/q3 qualifier classifiers the event/role models add on top of
    hyperrelation's two (modeling_bert.py:2327-2335)."""
    triples = cand[:, 4:10]
    n = triples.shape[0]
    n_heads = _N_HEADS[schema]
    widths = tuple(head_width(schema, hi, labels) for hi in range(n_heads))
    heads: dict[str, np.ndarray] = {}
    if cfg.scorer == "model":
        if ents is None or tokens is None:
            raise ValueError("scorer='model' needs entity spans and tokens")
        # the widths are explicit, so the scorer's own width is irrelevant
        outs = _worker_model_scorer(cfg, widths[0]).score_sentence_multi(
            list(tokens), ents, cand, widths)
        for hi in range(n_heads):
            heads[_HEAD_NAMES[hi]] = outs[hi].astype(np.float64)
    else:
        docs = np.full(n, doc_id, dtype=np.int64)
        sents = np.full(n, sent_idx, dtype=np.int64)
        for hi in range(n_heads):
            heads[_HEAD_NAMES[hi]] = hash_logits_batch(
                docs, sents, triples, widths[hi], cfg.hash_seed,
                hi).astype(np.float64)
        if cfg.scorer == "gold":
            lm = {lab: i for i, lab in enumerate(labels.label_list)}
            qm = {lab: i for i, lab in enumerate(labels.q_label_list)}
            gi = gold_orderings_multi(schema, gold_rels or [], lm, qm)
            labs = _lookup_gold_labels(triples, gi, width=n_heads)
            rows = np.arange(n)
            for hi in range(n_heads):
                heads[_HEAD_NAMES[hi]][rows, labs[:, hi]] += cfg.gold_weight
    if cfg.log_softmax:
        heads = {k: log_softmax(v) for k, v in heads.items()}
    return heads


def event_argument_view(preds):
    """D6 tail — event facts exploded to one row per (event, argument) with
    order-preserving dedup (run_re.py:1727-1751 ``event_output_preds``)."""
    from pyspark.sql import functions as F

    args = []
    for slot, (s, e, lab) in enumerate(
            (("m1s", "m1e", "m1_label"), ("m2s", "m2e", "m2_label"),
             ("m3s", "m3e", "m3_label"))):
        args.append(
            preds.select(
                "doc_id", "sent_idx", "pred_idx", "rel",
                F.col(s).alias("arg_s"), F.col(e).alias("arg_e"),
                F.col(lab).alias("arg_label"),
                F.lit(slot).alias("slot")))
    out = args[0]
    for a in args[1:]:
        out = out.unionByName(a)
    # first-occurrence order: (pred_idx, slot) is the reference's emission
    # order; dedup keeps the minimum
    return (
        out.groupBy("doc_id", "sent_idx", "rel", "arg_s", "arg_e", "arg_label")
        .agg(F.min(F.struct("pred_idx", "slot")).alias("first_seen"))
        .select("doc_id", "sent_idx", "rel", "arg_s", "arg_e", "arg_label",
                F.col("first_seen.pred_idx").alias("pred_idx"),
                F.col("first_seen.slot").alias("slot"))
    )


def extract_facts_multi(norm_df, schema: str, cfg: PipelineConfig,
                        labels: SchemaLabels):
    """Normalized docs -> schema-shaped fact rows (fused mapInPandas)."""
    if schema not in _N_HEADS:
        raise ValueError(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "sent_idx", "pred_idx", "rel",
                "m1s", "m1e", "m1_label", "m2s", "m2e", "m2_label",
                "m3s", "m3e", "m3_label"]
        for pdf in batches:
            col = {c: pdf[c].to_numpy() for c in pdf.columns}
            out: list[tuple] = []
            for r in range(len(pdf)):
                doc_id = int(col["doc_id"][r])
                sent_idx = int(col["sent_idx"][r])
                ner = col["ner"][r]
                if ner is None or len(ner) == 0:
                    continue
                ents = np.asarray(
                    [(int(m["start"]), int(m["end"])) for m in ner],
                    dtype=np.int64)
                # the reference keys its score dict by span; duplicate spans
                # collapse there — drop duplicates keeping first occurrence
                _, first = np.unique(
                    ents[:, 0] * 1_000_003 + ents[:, 1], return_index=True)
                ents = ents[np.sort(first)]
                cand = enumerate_triples(ents, cfg.max_seq_length)
                if cand.shape[0] == 0:
                    continue
                gold = (_rel_cell_to_dicts(col["relations"][r])
                        if cfg.scorer == "gold" else None)
                toks = (list(col["tokens"][r])
                        if cfg.scorer == "model" else None)
                heads = score_heads(
                    schema, cfg, labels, doc_id, sent_idx, cand, gold,
                    ents=ents, tokens=toks)
                preds = decode_sentence_multi(
                    schema, ents, cand, heads, labels.label_list,
                    labels.q_label_list, cfg.same_entity)
                for pi, p in enumerate(preds):
                    if schema == "event":
                        rel, (m1, l1), (m2, l2), (m3, l3) = p
                    elif schema == "role":
                        (m1, l1), (m2, l2), (m3, l3) = p
                        rel = None
                    else:
                        rel, m1, m2, m3 = p
                        l1 = l2 = l3 = None
                    out.append(
                        (doc_id, sent_idx, pi, rel,
                         m1[0], m1[1], l1, m2[0], m2[1], l2,
                         m3[0], m3[1], l3))
            yield pd.DataFrame(out, columns=cols)

    return norm_df.mapInPandas(run, MULTI_FACT_SCHEMA)
