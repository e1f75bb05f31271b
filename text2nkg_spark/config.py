"""Pipeline configuration.

Mirrors the knobs of the reference CLI that affect *extraction semantics*
(/root/reference/run_re.py:2510-2654 defaults) — not training knobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    """Semantic + physical configuration for the NKG construction pipeline.

    Semantic knobs (must match the reference for parity):
      * ``nary_schema`` — 'hyperrelation' | 'event' | 'role' | 'hypergraph'
        (reference run_re.py:2525; hyperrelation is the default/primary).
      * ``max_seq_length`` / ``max_pair_length`` — candidate pruning bounds
        (run_re.py:2583, 2639). With the identity tokenizer (1 token = 1
        subword) a sentence longer than ``max_seq_length - 4`` tokens is
        truncated for candidate purposes exactly like the reference's
        subword-window arithmetic (run_re.py:490-491, 516-517, 544-545).
      * ``same_entity`` — keep candidates with repeated spans
        (run_re.py:2576 ``--sameentity``, default False → drop).
      * ``log_softmax`` — normalize logits before ensembling
        (run_re.py:2643 ``--eval_logsoftmax``, default True).

    Physical knobs (Spark-side only; no effect on emitted facts):
      * ``shuffle_partitions`` — sized to cluster; at 100 TB set to
        ~2-3x total executor cores.
    """

    nary_schema: str = "hyperrelation"
    max_seq_length: int = 256
    max_pair_length: int = 32
    same_entity: bool = False
    log_softmax: bool = True
    # tokenizer for candidate-pruning arithmetic (run_re.py:490-491,
    # 516-517): 'identity' (1 token == 1 subword) or 'wordpiece' (the
    # deterministic FakeWordpieceTokenizer; swap in the HF adapter for a
    # real vocab).  With 'wordpiece', long words consume extra subword
    # budget and pruning can engage, so decode runs with strict=False
    # (skip triples with a pruned ordering — the reference would assert).
    tokenizer: str = "identity"
    wordpiece_piece_len: int = 4

    # physical
    shuffle_partitions: int = 32

    # --eval_unidirect flag (run_re.py:1291, 2652) — GRAFT-DEFINED
    # semantics: decode every candidate ordering on its own raw logits, no
    # 6-permutation ensemble.  The reference itself emits NO predictions
    # under this flag (its unidirect decode branch is commented out); see
    # decode_core.decode_sentence_unidirect
    eval_unidirect: bool = False

    # M5 — NER label source for the ner table / *_with_ner metrics
    # (run_re.py:1246-1250, argparse default False = model-argmax mode;
    # CANNOT affect emitted facts either way — the reference rebuilds
    # pos2ner from the input NER per emitted item, run_re.py:1482-1485)
    use_ner_results: bool = False

    # scoring
    scorer: str = "hash"  # 'hash' | 'gold' | 'model'
    gold_weight: float = 12.0
    hash_seed: int = 42
    # 'mini' = the deterministic numpy encoder (tests/this container);
    # a path = HF checkpoint dir, loaded lazily per python worker (torch
    # import happens only at weight-load time)
    model_checkpoint: str = "mini"
    # M6 — the reference's model registry (run_re.py:68-72):
    #   'bertsub'       BertForACEBothOneDropoutSub (default; NER head)
    #   'bertnonersub'  ...NoNer (modeling_bert.py:2933-3010): NO NER head
    #                   — the reference pairs it with --use_ner_results;
    #                   predicted-NER mode is a configuration error here
    #   'albertsub'     AlbertForACEBothOneDropoutSub: same heads over an
    #                   Albert encoder — with real weights the encoder
    #                   family resolves from the checkpoint config
    #                   (AutoModel), so only the head topology differs
    # Relation/qualifier scoring is identical across variants.
    model_variant: str = "bertsub"

    def __post_init__(self) -> None:
        if self.nary_schema not in ("hyperrelation", "event", "role", "hypergraph"):
            raise ValueError(f"unknown nary_schema: {self.nary_schema}")
        if self.tokenizer not in ("identity", "wordpiece"):
            raise ValueError(f"unknown tokenizer: {self.tokenizer}")
        if self.scorer not in ("hash", "gold", "model"):
            raise ValueError(f"unknown scorer: {self.scorer}")
        if self.model_variant not in ("bertsub", "bertnonersub", "albertsub"):
            raise ValueError(f"unknown model_variant: {self.model_variant}")
        if self.model_variant == "bertnonersub" and not self.use_ner_results:
            # the one place that covers the CLI, run_pipeline, and direct
            # predicted_ner_table callers: the NoNer model has no NER head
            # (no outputs[1]), so predicted-NER mode would die inside an
            # executor UDF after the expensive stages already ran — the
            # reference pairs this variant with --use_ner_results
            raise ValueError(
                "model_variant='bertnonersub' has no NER head; set "
                "use_ner_results=True (the reference pairs them)")


@dataclass(frozen=True)
class DataGenConfig:
    """Deterministic synthetic transcript generator settings (seeded).

    Shapes follow FIXTURES.md §1-2: mean ~30 tokens/turn, 2-6 mentions per
    annotated sentence, 1-3 relations with 1-3 qualifiers each, plus a skew
    tail of mention-dense turns to exercise salting.
    """

    n_convs: int = 100
    turns_per_conv: int = 10
    seed: int = 42
    n_rel_labels: int = 6
    n_qual_labels: int = 5
    mention_density_skew: float = 0.02  # fraction of turns that are mention-dense
    dense_mentions: int = 12
