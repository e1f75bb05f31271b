"""End-to-end NKG construction pipeline (SURVEY.md §7.2 M1).

    transcripts
        │
        ├──detect_mentions─> sentences     (HOF fold, [gold join] for the
        │                                   gold scorer, repartition by
        │                                   (conv_id, turn_idx))
        ├──extract_facts───> predictions   (fused Arrow UDF, no shuffle)
        ├──fact tables─────> facts / main_triples / fact_qualifiers / compacted
        ├──canonicalize────> surface_to_entity / entities
        ├──rekey───────────> facts_canonical
        ├──predicted NER───> mention_ner   (unless use_ner_results)
        └──manifests───────> metrics

The wide operations are the `sentences` repartition (and its optional gold
join), the `main_triples` and `compacted` aggregations, the distinct
surfaces of `surface_to_entity`, the join and aggregation of `entities`,
the `facts_canonical` join, and the eval joins of `metrics` when gold is
given; all are key-partitioned and AQE-managed.  The extraction itself is
scan → mapInPandas → write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from text2nkg_spark.config import PipelineConfig
from text2nkg_spark.labels import LabelSpace, make_synthetic_labels
from text2nkg_spark.operators.extraction import (
    _check_input, extract_facts_fused)
from text2nkg_spark.operators.facts import (
    compacted_facts, fact_table, main_triples, qualifier_triples)
from text2nkg_spark.operators.mentions import detect_mentions


def default_label_space(n_rel: int = 6, n_qual: int = 5) -> LabelSpace:
    rels, quals = make_synthetic_labels(n_rel, n_qual)
    return LabelSpace.build(rels, quals)


def build_label_space_from_gold(gold: DataFrame) -> LabelSpace:
    """P5 — label vocab from observed gold labels (distinct + sort, tiny
    collect; hyperred_data_process.py:420-451 analogue)."""
    rels = [
        r[0]
        for r in gold.select(F.explode("relations").alias("x"))
        .select(F.col("x.rel").alias("l")).distinct().orderBy("l").collect()
    ]
    quals = [
        r[0]
        for r in gold.select(F.explode("relations").alias("x"))
        .select(F.explode("x.quals").alias("q"))
        .select(F.col("q.label").alias("l")).distinct().orderBy("l").collect()
    ]
    return LabelSpace.build(rels, quals)


def prepare_sentences(
    transcripts: DataFrame,
    gold: DataFrame | None = None,
    predicate=None,
    udf_partitions: int | None = None,
) -> DataFrame:
    """Detect mentions and project the flat Arrow-friendly UDF contract
    (text + int span arrays — struct/token arrays double the Arrow
    conversion cost).

    ``udf_partitions``: explicit parallelism for the scoring UDF that
    consumes this frame.  AQE sizes shuffle partitions by BYTES (64 MB
    target) — the wrong cost model for a Python-UDF stage, where work is
    per-ROW: a small gold join collapses to ONE partition and the whole
    extraction runs single-threaded (measured 1.8x instead of 8x on the
    oracle corpus).  An explicit repartition pins the count (AQE never
    coalesces user-specified numPartitions); at data scale the join
    output is large enough that AQE keeps the parallelism anyway, so
    callers pass this for small-batch / joined inputs."""
    df = detect_mentions(transcripts, predicate=predicate)
    # expr strings, not lambda Columns: each lambda costs dozens of py4j
    # round-trips of driver-side construction (see mentions.py note)
    df = df.select(
        "conv_id", "turn_idx", "text",
        F.expr("transform(mentions, m -> m.start)").alias("m_starts"),
        F.expr("transform(mentions, m -> m.end)").alias("m_ends"),
    )
    if gold is not None:
        # ship gold as ONE JSON string per row, not a nested array<struct>:
        # Arrow->pandas materializes every struct cell into Python dicts
        # (measured ~1ms/row on the gold corpus — 4x the whole scoring
        # cost); to_json stays JVM-side and json.loads parses at C speed
        df = df.join(
            gold.select("conv_id", "turn_idx",
                        F.to_json(F.col("relations"))
                        .alias("gold_relations")),
            ["conv_id", "turn_idx"],
            "left",
        )
    if udf_partitions:
        df = df.repartition(udf_partitions, "conv_id", "turn_idx")
    return df


def extract(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    space: LabelSpace,
    gold: DataFrame | None = None,
) -> DataFrame:
    """transcripts -> prediction rows (the fused path)."""
    gold_in = gold if cfg.scorer == "gold" else None
    sents = prepare_sentences(
        transcripts, gold_in,
        # the gold join's output is row-cheap/byte-tiny: pin the UDF
        # parallelism (see prepare_sentences docstring)
        udf_partitions=cfg.shuffle_partitions if gold_in is not None
        else None)
    return extract_facts_fused(sents, cfg, space)


def run_pipeline(
    spark,
    transcripts: DataFrame,
    out_root: str,
    cfg: PipelineConfig,
    space: LabelSpace | None = None,
    gold: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The checkpointed end-to-end pipeline (SURVEY.md §4 item 4).

    Every stage writes parquet + a manifest (stage fingerprint, read schema,
    per-file footer row counts); a rerun — including after a mid-pipeline
    crash — resumes from the last complete stage (tested by deleting a stage
    manifest and observing only the suffix rebuild).  Fact tables partition
    by a conv-hash bucket so downstream per-conversation reads prune.
    """
    from text2nkg_spark.operators.canonicalize import (
        _LOCAL_VOCAB_THRESHOLD, canonicalize_entities, entity_rollup,
        rekey_facts_to_entities)
    from text2nkg_spark.operators.mentions import sentence_surfaces
    from text2nkg_spark.plans.manifest import StageManifest, input_fingerprint

    gold_in = gold if cfg.scorer == "gold" else None
    # the predictions stage's plan-time check, made before any stage is
    # written: `sentences` carries gold_relations iff the gold table joins
    _check_input(["gold_relations"] if gold_in is not None else [], cfg)
    space = space or default_label_space()
    man = StageManifest(out_root)
    fp = input_fingerprint(transcripts)
    # the gold table is an input too: of `sentences` (so of every fp2
    # stage) when the gold scorer joins it, and of `metrics` when given
    fp_gold = "" if gold is None else f"|gold={input_fingerprint(gold)}"
    fp_sents = fp if gold_in is None else fp + fp_gold

    sents = man.run_stage(
        spark, "sentences", fp_sents,
        # pin the stage's write parallelism: the parquet this stage emits
        # becomes the predictions UDF's input splits, and a tiny
        # AQE-coalesced write (1 file) would single-thread the scorer
        lambda: prepare_sentences(
            transcripts, gold_in, udf_partitions=cfg.shuffle_partitions))

    # the resume key of every stage built from predictions: the whole
    # config and the label NAMES (they name rels/quals and set the [r]/[k]
    # direction masks), so no config or label change serves stale parquet
    fp2 = f"{fp_sents}|{cfg!r}|{space.base_labels!r}"
    preds = man.run_stage(
        spark, "predictions", fp2,
        lambda: extract_facts_fused(sents, cfg, space).withColumn(
            # int: the type a readback infers from the directory names
            "conv_bucket", F.pmod(F.xxhash64("conv_id"), 16).cast("int")),
        partition_by=["conv_bucket"])

    facts = man.run_stage(
        spark, "facts", fp2, lambda: fact_table(preds))
    main = man.run_stage(
        spark, "main_triples", fp2, lambda: main_triples(facts))
    quals = man.run_stage(
        spark, "fact_qualifiers", fp2, lambda: qualifier_triples(facts))
    comp = man.run_stage(
        spark, "compacted", fp2, lambda: compacted_facts(facts))

    def build_s2e():
        surf = sentence_surfaces(sents)
        return canonicalize_entities(surf)["surface_to_entity"]

    s2e = man.run_stage(spark, "surface_to_entity", fp, build_s2e)

    def build_entities():
        return entity_rollup(sentence_surfaces(sents).join(s2e, "surface"))

    entities = man.run_stage(spark, "entities", fp, build_entities)

    # the map's size is in its manifest: no probe job decides the join
    facts_canonical = man.run_stage(
        spark, "facts_canonical", fp2,
        lambda: rekey_facts_to_entities(
            main, s2e.select("surface", "entity_id"),
            broadcast_map=man.read_meta("surface_to_entity")["rows_out"]
            <= _LOCAL_VOCAB_THRESHOLD))

    out = {
        "sentences": sents, "predictions": preds, "facts": facts,
        "main_triples": main, "fact_qualifiers": quals,
        "compacted": comp, "surface_to_entity": s2e,
        "entities": entities, "facts_canonical": facts_canonical,
    }

    # M5 — per-mention NER labels (run_re.py:1246-1250): predicted-NER mode
    # scores every detected mention through the model head; input-NER mode
    # needs annotations the transcript shape doesn't carry, so the stage
    # runs only in predicted mode.  Cannot affect the fact tables above
    # (pos2ner rebuild, operators/ner.py) — a separate, resumable stage.
    if not cfg.use_ner_results:
        def build_ner():
            from text2nkg_spark.operators.ner import predicted_ner_table

            return predicted_ner_table(
                sents, cfg, ["NIL", "Entity"], space=space)

        out["mention_ner"] = man.run_stage(
            spark, "mention_ner", fp2, build_ner)

    # S6 — metrics sink: per-stage row counts / wall / partitions from the
    # lineage manifests of the stages this call ran (a manifest an earlier
    # run left under another config is not one of them), plus eval P/R/F1
    # when gold is supplied; written as a queryable long-format parquet
    # table beside the data.  It is itself a manifest stage, so a
    # fully-resumed rerun skips the (expensive) eval joins instead of
    # recomputing them.
    def build_metrics():
        from text2nkg_spark.operators.metrics import metrics_table

        stage_metrics: dict[str, dict[str, float]] = {}
        for st in out:
            meta = man.read_meta(st)
            stage_metrics[st] = {
                "rows_out": meta["rows_out"],
                "wall_s": meta["wall_s"],
                "n_partitions": len(meta["partitions"]),
            }
        if gold is not None:
            from text2nkg_spark.operators.metrics import (
                relation_qualifier_prf)

            stage_metrics["eval"] = relation_qualifier_prf(preds, gold)
        return metrics_table(spark, stage_metrics)

    out["metrics"] = man.run_stage(
        spark, "metrics", fp2 + fp_gold, build_metrics)
    return out
