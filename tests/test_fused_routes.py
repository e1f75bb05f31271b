"""Fused extraction beyond the default hash grid, and the gold scorer's
input contract.

* Every decode route of ``extract_facts_fused`` — the reference loop
  (``same_entity``), the no-ensemble ablation (``eval_unidirect``) and the
  gold scorer — equals ``reference_oracle.decode_sentence`` over the same
  logits, on synthetic turns (no reference corpus needed).
* The gold table is part of the resume key: a rerun on a changed gold
  table rebuilds, and a gold rerun over a hash build does not read a
  ``sentences`` stage that lacks ``gold_relations``.
* ``scorer='gold'`` without a gold table fails at plan time.
"""

import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from text2nkg_spark import reference_oracle as oracle
from text2nkg_spark.candidates import enumerate_triples
from text2nkg_spark.config import DataGenConfig, PipelineConfig
from text2nkg_spark.datagen import gen_gold_pdf, gen_transcripts_pdf, gen_turn
from text2nkg_spark.operators.extraction import (
    extract_facts_fused, stable_doc_id)
from text2nkg_spark.plans.pipeline import (
    build_label_space_from_gold, prepare_sentences, run_pipeline)
from text2nkg_spark.scoring_core import (
    gold_logits, gold_orderings, hash_logits, log_softmax)

GEN = DataGenConfig(n_convs=10, turns_per_conv=4, seed=11)

GOLD_SCHEMA = (
    "conv_id string, turn_idx int, "
    "mentions array<struct<start:int,end:int>>, "
    "relations array<struct<h_s:int,h_e:int,t_s:int,t_e:int,rel:string,"
    "quals:array<struct<q_s:int,q_e:int,label:string>>>>"
)

PRED_COLS = ["conv_id", "turn_idx", "pred_idx", "m1s", "m1e", "m2s", "m2e",
             "rel", "m3s", "m3e", "qual"]


@pytest.fixture(scope="module")
def data(spark):
    tr = spark.createDataFrame(gen_transcripts_pdf(GEN)).cache()
    gold = spark.createDataFrame(gen_gold_pdf(GEN), schema=GOLD_SCHEMA).cache()
    # gold B: the relations of every even turn removed
    gold_b = gold.withColumn("relations", F.when(
        F.col("turn_idx") % 2 == 0,
        F.expr("filter(relations, r -> false)")).otherwise(F.col("relations")))
    return tr, gold, gold_b.cache(), build_label_space_from_gold(gold)


def _oracle_preds(cfg: PipelineConfig, space) -> list:
    """The dict-based reference decode of every generated turn, fed the
    logits the configured scorer produces."""
    out = []
    c = space.num_classes
    for conv in range(GEN.n_convs):
        for t in range(GEN.turns_per_conv):
            d = gen_turn(GEN, conv, t)
            ents = np.asarray(d["mentions"], dtype=np.int64).reshape(-1, 2)
            cand = enumerate_triples(ents, cfg.max_seq_length)
            if cand.shape[0] == 0:
                continue
            doc, tri = stable_doc_id(d["conv_id"]), cand[:, 4:10]
            if cfg.scorer == "gold":
                gi = gold_orderings(d["relations"], space.label_map())
                rel, q = gold_logits(
                    doc, t, tri, c, gi, cfg.hash_seed, cfg.gold_weight)
            else:
                rel = hash_logits(doc, t, tri, c, cfg.hash_seed, 0)
                q = hash_logits(doc, t, tri, c, cfg.hash_seed, 1)
            rel, q = log_softmax(rel), log_softmax(q)
            spans = [tuple(int(x) for x in r) for r in ents]
            pdict = {
                (spans[row[1]], spans[row[2]], spans[row[3]]):
                    (rel[n].tolist(), "Entity", q[n].tolist(), "Entity")
                for n, row in enumerate(cand)
            }
            preds = oracle.decode_sentence(
                pdict, space, cfg.same_entity, unidirect=cfg.eval_unidirect)
            for pi, (m1, m2, r_, m3, q_) in enumerate(preds):
                out.append((d["conv_id"], t, pi, m1[0], m1[1], m2[0], m2[1],
                            r_, m3[0], m3[1], q_))
    return sorted(out)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.select(*PRED_COLS).collect())


@pytest.mark.parametrize("cfg", [
    PipelineConfig(scorer="hash", same_entity=True),
    PipelineConfig(scorer="hash", eval_unidirect=True),
    PipelineConfig(scorer="gold"),
    PipelineConfig(scorer="gold", same_entity=True),
], ids=["same_entity", "unidirect", "gold", "gold_same_entity"])
def test_fused_route_matches_oracle(spark, data, cfg):
    tr, gold, _gold_b, space = data
    sents = prepare_sentences(tr, gold if cfg.scorer == "gold" else None)
    got = _rows(extract_facts_fused(sents, cfg, space))
    assert got
    assert got == _oracle_preds(cfg, space)


def test_gold_scorer_without_gold_fails_at_plan_time(spark, data):
    tr, _gold, _gold_b, space = data
    sents = prepare_sentences(tr)
    cfg = PipelineConfig(scorer="gold")
    with pytest.raises(ValueError, match="gold_relations"):
        extract_facts_fused(sents, cfg, space)


def test_extraction_job_refuses_gold_scorer(tmp_path):
    job = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs", "run_extraction.py")
    r = subprocess.run(
        [sys.executable, job, "--synthetic", "8", "--scorer", "gold",
         "--output", str(tmp_path)],
        capture_output=True, text=True, timeout=120)
    assert r.returncode == 2
    assert "invalid choice: 'gold'" in r.stderr


def test_gold_rerun_on_changed_gold_rebuilds(spark, data, tmp_path_factory):
    tr, gold, gold_b, space = data
    cfg = PipelineConfig(scorer="gold")
    root = str(tmp_path_factory.mktemp("gold_rerun"))
    first = _rows(run_pipeline(spark, tr, root, cfg, space, gold)
                  ["predictions"])
    rerun = _rows(run_pipeline(spark, tr, root, cfg, space, gold_b)
                  ["predictions"])
    fresh = _rows(run_pipeline(
        spark, tr, str(tmp_path_factory.mktemp("gold_fresh")), cfg, space,
        gold_b)["predictions"])
    assert rerun == fresh
    assert rerun != first


def test_metrics_rerun_on_changed_gold_rebuilds(spark, data, tmp_path_factory):
    tr, gold, gold_b, space = data
    cfg = PipelineConfig(scorer="hash")

    def evals(root, g):
        m = run_pipeline(spark, tr, root, cfg, space, g)["metrics"]
        return sorted((r.metric, r.value)
                      for r in m.where("stage = 'eval'").collect())

    root = str(tmp_path_factory.mktemp("eval_rerun"))
    first = evals(root, gold)
    rerun = evals(root, gold_b)
    assert rerun == evals(str(tmp_path_factory.mktemp("eval_fresh")), gold_b)
    assert rerun != first


def test_gold_rerun_over_hash_build(spark, data, tmp_path_factory):
    tr, gold, _gold_b, space = data
    root = str(tmp_path_factory.mktemp("hash_then_gold"))
    run_pipeline(spark, tr, root, PipelineConfig(scorer="hash"), space)
    cfg = PipelineConfig(scorer="gold")
    got = _rows(run_pipeline(spark, tr, root, cfg, space, gold)["predictions"])
    assert got == _oracle_preds(cfg, space)
