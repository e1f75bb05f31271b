"""A1-A4 / G3 — golden sets, P/R/F1 joins, exact-match compaction scoring.

All native Spark SQL: the golden sets are exploded DataFrames (C1,
run_re.py:334-364), membership tests are left-semi joins, denominators are
plain aggregates (run_re.py:269-274), and the scalar P/R/F1 math
(run_re.py:2310-2320) happens on the driver over a handful of counts.

Scale: gold explodes to 2 rows per relation + 6 per qualifier — linear.
Pred-vs-gold joins are key-partitioned sort-merge joins; AQE splits skewed
keys.  Nothing here collects more than the final counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from text2nkg_spark.operators.facts import json_escape
from text2nkg_spark.session import local_frame


def gold_relation_pairs(gold: DataFrame) -> DataFrame:
    """Both-direction golden relation set (run_re.py:336-340).

    gold: (conv_id, turn_idx, relations: array<struct<h_s,h_e,t_s,t_e,rel,
    quals>>) -> rows (conv_id, turn_idx, m1s, m1e, m2s, m2e, rel).
    """
    r = gold.select(
        "conv_id", "turn_idx", F.explode("relations").alias("x"))
    fwd = r.select(
        "conv_id", "turn_idx",
        F.col("x.h_s").alias("m1s"), F.col("x.h_e").alias("m1e"),
        F.col("x.t_s").alias("m2s"), F.col("x.t_e").alias("m2e"),
        F.col("x.rel").alias("rel"))
    inv = r.select(
        "conv_id", "turn_idx",
        F.col("x.t_s").alias("m1s"), F.col("x.t_e").alias("m1e"),
        F.col("x.h_s").alias("m2s"), F.col("x.h_e").alias("m2e"),
        F.concat(F.col("x.rel"), F.lit("-1")).alias("rel"))
    return fwd.unionByName(inv).distinct()


def gold_qualifier_six(gold: DataFrame) -> DataFrame:
    """All-6-ordering golden qualifier set (run_re.py:341-364).

    Rows: (conv_id, turn_idx, m1s..m2e, rel, m3s, m3e, qual).
    """
    rq = gold.select(
        "conv_id", "turn_idx", F.explode("relations").alias("x")
    ).select(
        "conv_id", "turn_idx",
        F.col("x.h_s").alias("hs"), F.col("x.h_e").alias("he"),
        F.col("x.t_s").alias("ts"), F.col("x.t_e").alias("te"),
        F.col("x.rel").alias("rel"), F.explode("x.quals").alias("q"),
    ).select(
        "conv_id", "turn_idx", "hs", "he", "ts", "te", "rel",
        F.col("q.q_s").alias("qs"), F.col("q.q_e").alias("qe"),
        F.col("q.label").alias("qual"),
    )
    inv = lambda c: F.concat(F.col(c), F.lit("-1"))  # noqa: E731

    def mk(m1s, m1e, m2s, m2e, r, m3s, m3e, q):
        return rq.select(
            "conv_id", "turn_idx",
            F.col(m1s).alias("m1s"), F.col(m1e).alias("m1e"),
            F.col(m2s).alias("m2s"), F.col(m2e).alias("m2e"),
            r.alias("rel"),
            F.col(m3s).alias("m3s"), F.col(m3e).alias("m3e"),
            q.alias("qual"))

    six = [
        mk("hs", "he", "ts", "te", F.col("rel"), "qs", "qe", F.col("qual")),
        mk("ts", "te", "hs", "he", inv("rel"), "qs", "qe", F.col("qual")),
        mk("hs", "he", "qs", "qe", F.col("qual"), "ts", "te", F.col("rel")),
        mk("ts", "te", "qs", "qe", F.col("qual"), "hs", "he", inv("rel")),
        mk("qs", "qe", "hs", "he", inv("qual"), "ts", "te", F.col("rel")),
        mk("qs", "qe", "ts", "te", F.col("rel"), "hs", "he", inv("qual")),
    ]
    out = six[0]
    for s in six[1:]:
        out = out.unionByName(s)
    return out.distinct()


def recall_denominators(gold: DataFrame) -> dict[str, int]:
    """tot_recall / q_tot_recall (run_re.py:269-274)."""
    row = gold.agg(
        F.sum(F.size("relations")).alias("tot_recall"),
        F.sum(
            F.aggregate(
                "relations", F.lit(0), lambda a, x: a + F.size(x["quals"]))
        ).alias("q_tot_recall"),
    ).collect()[0]
    return {
        "tot_recall": int(row["tot_recall"] or 0),
        "q_tot_recall": int(row["q_tot_recall"] or 0),
    }


def relation_qualifier_prf(preds: DataFrame, gold: DataFrame) -> dict[str, float]:
    """The reference's headline metrics (run_re.py:2310-2320):

    p/r/f1 on distinct predicted (m1, m2, rel); q_p/q_r/q_f1 on distinct
    predicted (m1, m2, rel, m3, qual).  ``preds`` is the extraction output.
    """
    rel_keys = ["conv_id", "turn_idx", "m1s", "m1e", "m2s", "m2e", "rel"]
    q_keys = rel_keys + ["m3s", "m3e", "qual"]

    pred_r = preds.select(*rel_keys).distinct()
    pred_q = preds.select(*q_keys).distinct()

    g_r = gold_relation_pairs(gold)
    g_q = gold_qualifier_six(gold)

    cor = pred_r.join(g_r, rel_keys, "left_semi").count()
    tot_pred_r = pred_r.count()
    q_cor = pred_q.join(g_q, q_keys, "left_semi").count()
    tot_pred = pred_q.count()

    den = recall_denominators(gold)
    tot_recall, q_tot_recall = den["tot_recall"], den["q_tot_recall"]

    p = cor / tot_pred_r if tot_pred_r > 0 else 0.0
    r = cor / tot_recall if tot_recall else 0.0
    f1 = 2 * p * r / (p + r) if cor > 0 else 0.0
    q_p = q_cor / tot_pred if tot_pred > 0 else 0.0
    q_r = q_cor / q_tot_recall if q_tot_recall else 0.0
    q_f1 = 2 * q_p * q_r / (q_p + q_r) if q_cor > 0 else 0.0
    return {
        "p": p, "r": r, "f1": f1,
        "q_p": q_p, "q_r": q_r, "q_f1": q_f1,
        "correct_r": cor, "num_r_ans": tot_recall, "num_r_pred": tot_pred_r,
        "correct_q": q_cor, "num_q_ans": q_tot_recall, "num_q_pred": tot_pred,
    }


def _enrich_with_ner(df: DataFrame, ner: DataFrame,
                     spans: list[tuple[str, str, str]]) -> DataFrame:
    """Join a span-keyed table with per-span NER labels (pos2ner lookup).

    Every candidate span must come from the NER results — the reference's
    dict indexing would KeyError on a missing span (run_re.py:1482-1485).
    A LEFT join + raise_error preserves that loudness: an inner join would
    silently DROP the prediction and deflate the *_with_ner counters."""
    out = df
    for s_col, e_col, lab in spans:
        out = out.join(
            ner.select(
                "conv_id", "turn_idx",
                F.col("start").alias(s_col), F.col("end").alias(e_col),
                F.col("ner_label").alias(lab)),
            ["conv_id", "turn_idx", s_col, e_col], "left").withColumn(
            lab,
            F.coalesce(F.col(lab), F.raise_error(F.concat(
                F.lit(f"span ({s_col},{e_col})=("),
                F.col(s_col).cast("string"), F.lit(","),
                F.col(e_col).cast("string"),
                F.lit(") missing from input NER (pos2ner KeyError "
                      "analogue, run_re.py:1482-1485)")))))
    return out


def relation_prf_withner(
    preds: DataFrame, gold: DataFrame, gold_ner: DataFrame,
    input_ner: DataFrame,
) -> dict[str, int]:
    """A4's *_with_ner counters (run_re.py:1505-1520): a predicted relation
    (qualifier) counts as correct-with-ner iff the relation key matches the
    golden set AND the INPUT-NER label of every touched span (pos2ner,
    rebuilt per item from the input NER — run_re.py:1482-1485) equals the
    GOLD span label (std_entity_labels in golden_labels_withner,
    run_re.py:337-356).  The model-argmax ner stream never reaches these
    counters — the per-item pos2ner updates are commented out (1486-1491).
    """
    rel_keys = ["conv_id", "turn_idx", "m1s", "m1e", "m2s", "m2e", "rel"]
    q_keys = rel_keys + ["m3s", "m3e", "qual"]
    m12 = [("m1s", "m1e", "l1"), ("m2s", "m2e", "l2")]
    m123 = m12 + [("m3s", "m3e", "l3")]

    pr = _enrich_with_ner(preds.select(*rel_keys).distinct(), input_ner, m12)
    pq = _enrich_with_ner(preds.select(*q_keys).distinct(), input_ner, m123)
    g_r = _enrich_with_ner(gold_relation_pairs(gold), gold_ner, m12)
    g_q = _enrich_with_ner(gold_qualifier_six(gold), gold_ner, m123)

    return {
        "cor_with_ner": pr.join(
            g_r, rel_keys + ["l1", "l2"], "left_semi").count(),
        "q_cor_with_ner": pq.join(
            g_q, q_keys + ["l1", "l2", "l3"], "left_semi").count(),
    }


def ner_refine_metrics(input_ner: DataFrame,
                       gold_ner: DataFrame) -> dict[str, int]:
    """D7 — the NER-refine tail (run_re.py:1509-1520): ner_ori_cor counts
    input-NER spans whose label matches gold; the 'refined' recount uses
    pos2ner — which the shipped code rebuilds from the SAME input NER
    (1482-1485, per-item updates commented out at 1486-1491), so refine is
    the identity and ner_cor == ner_ori_cor by construction.  Preserved
    as-is; a de-quirked refine would substitute decode-consistent labels
    here."""
    keys = ["conv_id", "turn_idx", "start", "end", "ner_label"]
    cor = input_ner.select(*keys).join(
        gold_ner.select(*keys), keys, "left_semi").count()
    return {
        "ner_ori_cor": cor,
        "ner_cor": cor,  # identity refine — the reference's shipped path
        "ner_tot_pred": input_ner.count(),
    }


def gold_six_multi(norm: DataFrame, schema: str) -> DataFrame:
    """All-6-ordering golden qualifier sets for event/role/hypergraph
    (run_re.py:374-397, 407-430, 440-463): each ordered arrangement carries
    per-slot labels — lab(h)=role_h, lab(t)=role_t (event) / rel-slot (role),
    lab(q)=qualifier label; hypergraph uses the relation label everywhere.

    norm: normalized docs (operators/normalize.py).  Output rows:
    (doc_id, sent_idx, m1s, m1e, m2s, m2e, rel, m3s, m3e, l1, l2, l3)
    with l1/l2/l3 the m1/m2/m3 slot labels (rel null for role).
    """
    base = norm.select(
        "doc_id", "sent_idx", F.explode("relations").alias("x")
    ).select(
        "doc_id", "sent_idx",
        F.col("x.h_s").alias("hs"), F.col("x.h_e").alias("he"),
        F.col("x.t_s").alias("ts"), F.col("x.t_e").alias("te"),
        F.col("x.rel").alias("rel"),
        F.col("x.role_h").alias("role_h"), F.col("x.role_t").alias("role_t"),
        F.explode("x.quals").alias("q"),
    ).select(
        "doc_id", "sent_idx", "hs", "he", "ts", "te", "rel",
        "role_h", "role_t",
        F.col("q.q_s").alias("qs"), F.col("q.q_e").alias("qe"),
        F.col("q.label").alias("qlab"),
    )
    if schema == "event":
        lab = {"h": F.col("role_h"), "t": F.col("role_t"), "q": F.col("qlab")}
        rel_out = F.col("rel")
    elif schema == "role":
        lab = {"h": F.col("role_h"), "t": F.col("rel"), "q": F.col("qlab")}
        rel_out = F.lit(None).cast("string")
    elif schema == "hypergraph":
        lab = {"h": F.col("rel"), "t": F.col("rel"), "q": F.col("rel")}
        rel_out = F.col("rel")
    else:
        raise ValueError(schema)

    span = {"h": ("hs", "he"), "t": ("ts", "te"), "q": ("qs", "qe")}
    from itertools import permutations

    parts = []
    for m1, m2, m3 in permutations("htq", 3):
        parts.append(
            base.select(
                "doc_id", "sent_idx",
                F.col(span[m1][0]).alias("m1s"), F.col(span[m1][1]).alias("m1e"),
                F.col(span[m2][0]).alias("m2s"), F.col(span[m2][1]).alias("m2e"),
                rel_out.alias("rel"),
                F.col(span[m3][0]).alias("m3s"), F.col(span[m3][1]).alias("m3e"),
                lab[m1].alias("l1"), lab[m2].alias("l2"), lab[m3].alias("l3"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def multi_schema_prf(preds: DataFrame, norm: DataFrame, schema: str) -> dict:
    """q_p / q_r for the event/role/hypergraph extraction output
    (extraction_multi.MULTI_FACT_SCHEMA rows) vs the 6-ordering golden set —
    the reference's q_cor / tot_pred / q_tot_recall counting
    (run_re.py:1703-1741 et al.)."""
    keys = ["doc_id", "sent_idx", "m1s", "m1e", "m2s", "m2e", "rel",
            "m3s", "m3e", "l1", "l2", "l3"]
    p = preds.select(
        "doc_id", "sent_idx", "m1s", "m1e", "m2s", "m2e", "rel",
        "m3s", "m3e",
        F.col("m1_label").alias("l1"), F.col("m2_label").alias("l2"),
        F.col("m3_label").alias("l3"),
    ).distinct()
    g = gold_six_multi(norm, schema)
    if schema == "hypergraph":
        # hypergraph facts carry no per-slot labels (output_preds is
        # (rel, m1, m2, m3) — run_re.py:2147); compare without them
        keys = keys[:9]
        p = p.drop("l1", "l2", "l3")
        g = g.drop("l1", "l2", "l3").distinct()
    cmp_keys = [k for k in keys if k != "rel"] + (
        ["rel"] if schema != "role" else [])
    cor = p.join(g, [k for k in cmp_keys], "left_semi").count()
    tot_pred = p.count()
    q_tot_recall = norm.agg(
        F.sum(F.aggregate(
            "relations", F.lit(0), lambda a, x: a + F.size(x["quals"]))
        )).collect()[0][0] or 0
    q_p = cor / tot_pred if tot_pred else 0.0
    q_r = cor / q_tot_recall if q_tot_recall else 0.0
    return {"q_p": q_p, "q_r": q_r, "correct_q": cor,
            "num_q_pred": tot_pred, "num_q_ans": int(q_tot_recall)}


def gold_compacted_json(gold_with_tokens: DataFrame) -> DataFrame:
    """Gold-side canonical compacted-fact JSON (run_re.py:2445-2472),
    built with higher-order functions only — no UDF, no shuffle.

    Preserves the reference's ``att`` accumulation quirk: qualifier value
    j is the concatenation of the texts of qualifiers 0..j of that relation
    (the accumulator string is never reset between qualifiers).  Labels and
    texts go through ``facts.json_escape``, the predicted side's escaper,
    so both sides equal ``json.dumps``.

    Input: (conv_id, turn_idx, tokens: array<string>, relations: array<...>).
    Output: one row per gold relation with ``canonical_json``.
    """
    df = gold_with_tokens.select(
        "conv_id", "turn_idx", "tokens", F.explode("relations").alias("x"))

    piece = lambda q: F.array_join(  # noqa: E731
        F.slice(
            F.col("tokens"), q["q_s"] + 1, q["q_e"] - q["q_s"] + 1), " ")

    # att_j = concat of pieces 0..j (no separator) — the reference quirk
    df = df.withColumn(
        "atts",
        F.transform(
            F.col("x.quals"),
            lambda q, i: json_escape(F.concat_ws(
                "",
                F.transform(
                    F.slice(F.col("x.quals"), F.lit(1), i + 1), piece))),
        ),
    )
    # first-occurrence-ordered distinct qualifier labels
    df = df.withColumn(
        "qlabels",
        F.aggregate(
            F.col("x.quals"),
            F.array().cast("array<string>"),
            lambda acc, q: F.when(
                F.array_contains(acc, q["label"]), acc
            ).otherwise(F.concat(acc, F.array(q["label"]))),
        ),
    )
    df = df.withColumn(
        "quals_json",
        F.array_join(
            F.transform(
                "qlabels",
                lambda lab: F.concat(
                    F.lit('"'), json_escape(lab), F.lit('": ["'),
                    F.array_join(
                        F.filter(
                            F.zip_with(
                                F.col("x.quals"), F.col("atts"),
                                lambda q, a: F.when(
                                    q["label"] == lab, a)),
                            lambda a: a.isNotNull(),
                        ),
                        '", "',
                    ),
                    F.lit('"]'),
                ),
            ),
            ", ",
        ),
    )
    span_text = lambda s, e: F.array_join(  # noqa: E731
        F.slice(F.col("tokens"), s + 1, e - s + 1), " ")
    return df.select(
        "conv_id", "turn_idx",
        F.concat(
            F.lit('{"N": '),
            (F.lit(2) + F.size(F.col("x.quals"))).cast("int"),
            F.lit(', "relation": "'), json_escape(F.col("x.rel")),
            F.lit('", "subject": "'),
            json_escape(span_text(F.col("x.h_s"), F.col("x.h_e"))),
            F.lit('", "object": "'),
            json_escape(span_text(F.col("x.t_s"), F.col("x.t_e"))),
            F.lit('", '), F.col("quals_json"), F.lit("}"),
        ).alias("canonical_json"),
    )


def compaction_exact_match(
    compacted: DataFrame, gold_json: DataFrame
) -> dict[str, float]:
    """G3/A4 — exact-match P/R/F1 at compacted-fact granularity
    (run_re.py:2474-2505).  The reference counts every (pred, gold) string
    match within a document; duplicates on either side multiply.
    """
    pred = compacted.select("conv_id", "turn_idx", "canonical_json")
    num_pred = pred.count()
    num_ans = gold_json.count()
    match = pred.join(
        gold_json, ["conv_id", "turn_idx", "canonical_json"], "inner"
    ).count()
    p = match / num_pred if num_pred > 0 else 0.0
    r = match / num_ans if num_ans else 0.0
    f1 = 2 * p * r / (p + r) if match > 0 else 0.0
    return {
        "p_comp": p, "r_comp": r, "f1_comp": f1,
        "correct_comp": match, "num_pred_comp": num_pred,
        "num_ans_comp": num_ans,
    }


# ---------------------------------------------------------------------------
# S6 — queryable metrics sink
# ---------------------------------------------------------------------------

METRICS_SCHEMA = "stage string, metric string, value double"


def metrics_table(spark, stage_metrics: dict[str, dict[str, float]]):
    """The metrics SINK as a queryable table: one row per (stage, metric).

    The reference dumps eval numbers to a results json (run_re.py:2497-2505);
    at pipeline scale the analogue is a long-format metrics table written
    beside the data — row counts, wall times and partition counts per stage
    (from the lineage manifests) plus the P/R/F1 block when a gold table is
    supplied.  Long format keeps the schema stable as metrics are added.
    """
    rows = [
        (stage, metric, float(value))
        for stage, d in sorted(stage_metrics.items())
        for metric, value in sorted(d.items())
        if isinstance(value, (int, float))
    ]
    return local_frame(spark, rows, METRICS_SCHEMA)
