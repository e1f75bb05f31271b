"""Canonical compacted-fact JSON equals ``json.dumps`` for any text.

Both sides of the compaction exact match — the predicted
``compacted_facts`` and the gold ``gold_compacted_json`` — must emit the
reference's ``json.dumps`` bytes (``ensure_ascii``) also when a token holds
a quote, a backslash, a control character or non-ASCII text.
"""

import json

import numpy as np

from text2nkg_spark import reference_oracle as oracle
from text2nkg_spark.operators.facts import compacted_facts, fact_table
from text2nkg_spark.operators.metrics import gold_compacted_json

TOKENS = ["entrée", "ent\tb", 'ent"q', "ent\U0001F600", "back\\slash",
          "ctl\x01x", "del\x7f", "ls\u2028", "plain", "nl\nff\x0c"]


def test_json_escape_matches_json_dumps(spark):
    from pyspark.sql import functions as F

    from text2nkg_spark.operators.facts import json_escape

    rng = np.random.default_rng(3)
    alphabet = ([chr(c) for c in range(0, 0x80)]
                + ["é", "ß", "\u2028", "中", "\U0001F600", "\U00010348"])
    strings = TOKENS + ["", "plain ascii"] + [
        "".join(rng.choice(alphabet, int(rng.integers(1, 12))))
        for _ in range(300)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    got = dict(df.select("i", json_escape(F.col("s")).alias("e")).collect())
    assert [got[i] for i in range(len(strings))] == [
        json.dumps(s)[1:-1] for s in strings]


def test_compacted_facts_are_json_dumps(spark):
    rels = ['[r]born"in', "[r]wörks\\for"]
    quals = ["[k]sínce", "[k]tab\tkey"]
    preds, rows = [], []
    for pi in range(len(TOKENS) - 2):
        m1, m2, m3 = (pi, pi), (pi + 1, pi + 1), (pi + 2, pi + 2)
        rel, qual = rels[pi % 2], quals[pi % 2]
        preds.append((m1, m2, rel, m3, qual))
        rows.append(("c0", 0, pi, rel, TOKENS[pi], TOKENS[pi + 1], qual,
                     TOKENS[pi + 2]))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, pred_idx int, rel string, "
              "subj string, obj string, qual string, value string")
    got = sorted(r.canonical_json
                 for r in compacted_facts(fact_table(df)).collect())
    want = sorted(oracle.compact_facts(oracle.gran_facts(TOKENS, preds)))
    assert got == want
    assert all(json.loads(g) for g in got)


def test_gold_compacted_json_is_json_dumps(spark):
    relations = [
        (0, 0, 1, 2, '[r]born"in', [(3, 4, "[k]sínce"), (9, 9, "[k]x")]),
        (5, 5, 6, 7, "[r]wörks\\for", [(8, 8, "[k]tab\tkey")]),
    ]
    df = spark.createDataFrame(
        [("c0", 0, TOKENS, [
            (hs, he, ts, te, rel, [(qs, qe, lab) for qs, qe, lab in quals])
            for hs, he, ts, te, rel, quals in relations])],
        "conv_id string, turn_idx int, tokens array<string>, "
        "relations array<struct<h_s:int, h_e:int, t_s:int, t_e:int, "
        "rel:string, quals:array<struct<q_s:int, q_e:int, label:string>>>>")
    got = sorted(r.canonical_json for r in gold_compacted_json(df).collect())
    assert got == sorted(oracle.gold_compact_facts(TOKENS, relations))
