"""M5 — mention NER labels: input-NER passthrough or model-head argmax.

The reference's eval has two modes (run_re.py:1246-1250):

* ``--use_ner_results`` — per-candidate ner labels come from the input NER
  annotations (``ner_preds = ner_labels``);
* default — ``ner_preds = argmax(outputs[1])`` / ``q_ner_preds =
  argmax(outputs[3])``, the model's own NER heads.

Faithful caveat, load-bearing for parity: whichever mode runs, the
per-candidate ner stream CANNOT change the emitted facts — the reference
rebuilds ``pos2ner`` from the input NER results for every emitted item
(run_re.py:1482-1485) and the per-item updates that would inject the
predicted labels are commented out (1486-1491).  The stream only feeds the
``*_with_ner`` eval counters and the (identity) NER-refine metric — see
operators/metrics.py.  tests/test_ner_m5.py asserts extraction outputs are
byte-identical across modes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from text2nkg_spark.config import PipelineConfig

NER_TABLE_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, ner_label string"
)


def input_ner_table(norm_like: DataFrame,
                    conv_col: str = "conv_id",
                    turn_col: str = "turn_idx") -> DataFrame:
    """Input-NER mode: explode a ``ner`` struct column to the table shape."""
    return norm_like.select(
        F.col(conv_col).cast("string").alias("conv_id"),
        F.col(turn_col).cast("int").alias("turn_idx"),
        F.explode("ner").alias("m"),
    ).select(
        "conv_id", "turn_idx",
        F.col("m.start").cast("int").alias("start"),
        F.col("m.end").cast("int").alias("end"),
        F.col("m.label").alias("ner_label"))


def predicted_ner_table(
    sents: DataFrame, cfg: PipelineConfig, ner_label_list: list[str],
    space=None,
) -> DataFrame:
    """Model-NER mode: one canonical argmax label per detected mention from
    the scorer's NER head (run_re.py:1250 analogue), over the flat sentence
    contract (conv_id, turn_idx, text, m_starts, m_ends).  Same fused
    mapInPandas shape as extraction — shuffle-free, worker-local scorer.

    Pass the pipeline's ``space`` (LabelSpace) so this table REUSES the
    worker's cached ModelScorer — the cache key includes num_classes, and
    a mismatched default would load a second full checkpoint per worker."""
    labels = list(ner_label_list)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from text2nkg_spark.operators.extraction import (
            _entity_spans, _worker_model_scorer)
        from text2nkg_spark.plans.pipeline import default_label_space

        scorer = _worker_model_scorer(
            cfg, (space or default_label_space()).num_classes)
        cols = ["conv_id", "turn_idx", "start", "end", "ner_label"]
        for pdf in batches:
            conv_ids = pdf["conv_id"].to_numpy()
            turn_idxs = pdf["turn_idx"].to_numpy()
            text_col = pdf["text"].to_numpy()
            starts_col = pdf["m_starts"].to_numpy()
            ends_col = pdf["m_ends"].to_numpy()
            out: list[tuple] = []
            for r in range(len(pdf)):
                ents = _entity_spans(starts_col[r], ends_col[r])
                if ents.shape[0] == 0:
                    continue
                preds = scorer.predict_mention_ner(
                    text_col[r].split(" "), ents, len(labels))
                conv, turn = conv_ids[r], int(turn_idxs[r])
                for m in range(ents.shape[0]):
                    out.append((conv, turn, int(ents[m, 0]),
                                int(ents[m, 1]), labels[int(preds[m])]))
            yield pd.DataFrame(out, columns=cols)

    return sents.mapInPandas(run, NER_TABLE_SCHEMA)


def mention_ner_table(
    sents: DataFrame, cfg: PipelineConfig, ner_label_list: list[str],
    input_ner: DataFrame | None = None, space=None,
) -> DataFrame:
    """Mode dispatch: cfg.use_ner_results -> the input annotations
    (``input_ner`` or an exploded ``ner`` column on ``sents``), else the
    model head's argmax (pass the pipeline's ``space`` to share the
    worker-cached scorer)."""
    if cfg.use_ner_results:
        if input_ner is not None:
            return input_ner
        return input_ner_table(sents)
    # bertnonersub + predicted mode is unconstructible: PipelineConfig
    # rejects the pairing at __post_init__ (plan-time, covering every
    # caller); ModelScorer.predict_mention_ner keeps the scorer-level
    # error for direct use
    return predicted_ner_table(sents, cfg, ner_label_list, space=space)
