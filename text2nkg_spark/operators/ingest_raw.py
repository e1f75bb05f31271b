"""Raw-corpus ingestion operators (SURVEY.md §2.2 P3-P8) — the Spark
re-expression of the reference's dataset-construction module
(hyperred_data_process.py), which turns flat quintuplets into merged
sentences, builds the label vocabulary, and computes corpus stats.

* P3 ``quintuplets_to_sentences`` — group quintuplets by identical sentence
  text; union entities; merge relations on (head, tail, label) unioning
  qualifier sets (hyperred_data_process.py:128-149, 187-211).
* P4 ``sentences_to_quintuplets`` — the exploded view (one row per
  (head, tail, relation, qualifier, value); hyperred_data_process.py:171-185).
  Round-trip P4(P3(x)) == x as a set — the reference asserts exactly this
  (hyperred_data_process.py:208-210); tests reproduce the assert as an
  exceptAll check.
* P5 ``build_label_vocab`` — label.json construction: ids are
  ``["None","Entity"] + sorted(quals) + sorted(rels - quals)``
  (hyperred_data_process.py:434-448).
* P7 ``corpus_stats`` — sentence/relation/label counts + an
  order-insensitive content hash for provenance
  (hyperred_data_process.py:213-230).
* P8 ``bio_encode`` / ``bio_decode`` — BIO tagging round trip
  (hyperred_data_process.py:534-564), as array HOFs.

Spans here are end-EXCLUSIVE like the raw HyperRED data; the processed
pipeline (P2) converts to inclusive ends (hyperred_data_process.py:404).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def quintuplets_to_sentences(q: DataFrame) -> DataFrame:
    """P3 — one row per distinct sentence text with merged annotations.

    Input: one row per quintuplet, columns text string, h_s, h_e, t_s, t_e,
    v_s, v_e int, relation string, qualifier string.
    Output: text, entities array<struct<start,end>> (distinct, sorted),
    relations array<struct<h_s,h_e,t_s,t_e,rel,
    quals array<struct<v_s,v_e,label>>>> (qualifier sets deduped).
    Two keyed aggregations; both combine map-side.
    """
    ents = (
        q.select(
            "text",
            F.explode(
                F.array(
                    F.struct(F.col("h_s").alias("start"), F.col("h_e").alias("end")),
                    F.struct(F.col("t_s").alias("start"), F.col("t_e").alias("end")),
                    F.struct(F.col("v_s").alias("start"), F.col("v_e").alias("end")),
                )
            ).alias("e"),
        )
        .groupBy("text")
        .agg(F.sort_array(F.collect_set("e")).alias("entities"))
    )
    rels = (
        q.groupBy("text", "h_s", "h_e", "t_s", "t_e", "relation")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.struct("v_s", "v_e", F.col("qualifier").alias("label")))
            ).alias("quals")
        )
        .groupBy("text")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("h_s", "h_e", "t_s", "t_e",
                             F.col("relation").alias("rel"), "quals"))
            ).alias("relations")
        )
    )
    return ents.join(rels, "text")


def sentences_to_quintuplets(s: DataFrame) -> DataFrame:
    """P4 — the flat exploded view (north_rule triple decomposition)."""
    r = s.select("text", F.explode("relations").alias("r"))
    return r.select(
        "text",
        F.col("r.h_s").alias("h_s"), F.col("r.h_e").alias("h_e"),
        F.col("r.t_s").alias("t_s"), F.col("r.t_e").alias("t_e"),
        F.explode("r.quals").alias("q"),
        F.col("r.rel").alias("relation"),
    ).select(
        "text", "h_s", "h_e", "t_s", "t_e",
        F.col("q.v_s").alias("v_s"), F.col("q.v_e").alias("v_e"),
        "relation", F.col("q.label").alias("qualifier"),
    )


def build_label_vocab(
    sentences: DataFrame,
    rel_prefix: str = "[r]",
    qual_prefix: str = "[k]",
) -> dict:
    """P5 — label.json layout (hyperred_data_process.py:434-448).

    The distinct label sets are tiny (10^2); they collect to the driver
    like the reference's single-pass build.  NOTE the shipped reference data
    uses ``[k]`` for qualifiers while the code at
    hyperred_data_process.py:411 writes ``[q]`` (SURVEY.md §1.1) — default
    matches the shipped data.  Pass empty prefixes for already-prefixed
    (processed) corpora.
    """
    r = sentences.select(F.explode("relations").alias("x"))
    rels = sorted(
        rel_prefix + row[0]
        for row in r.select(F.col("x.rel")).distinct().collect()
    )
    quals = sorted(
        qual_prefix + row[0]
        for row in r.select(F.explode("x.quals").alias("q"))
        .select(F.col("q.label")).distinct().collect()
    )
    labels = ["None", "Entity"] + quals + sorted(set(rels) - set(quals))
    label_map = {name: i for i, name in enumerate(labels)}
    return {
        "id": label_map,
        "symmetric": [],
        "asymmetric": [],
        "entity": [label_map["Entity"]],
        "relation": [label_map[n] for n in rels],
        "qualifier": [label_map[n] for n in quals],
        "q_num_logits": len(quals) + 2,
    }


def corpus_stats(sentences: DataFrame) -> dict:
    """P7 — counts + distinct labels + order-insensitive content hash."""
    row = sentences.agg(
        F.count(F.lit(1)).alias("sents"),
        F.sum(F.size("relations")).alias("relations"),
        F.sum(
            F.aggregate("relations", F.lit(0), lambda a, x: a + F.size(x["quals"]))
        ).alias("qualifiers"),
        F.expr("bit_xor(xxhash64(to_json(struct(*))))").alias("content_hash"),
    ).collect()[0]
    labels = sentences.select(F.explode("relations").alias("x"))
    n_rel_labels = labels.select(F.col("x.rel")).distinct().count()
    n_q_labels = (
        labels.select(F.explode("x.quals").alias("q"))
        .select(F.col("q.label")).distinct().count()
    )
    return {
        "sents": int(row["sents"]),
        "relations": int(row["relations"] or 0),
        "relation_labels": n_rel_labels,
        "qualifiers": int(row["qualifiers"] or 0),
        "qualifier_labels": n_q_labels,
        "content_hash": str(row["content_hash"]),
    }


def bio_encode(spans_col, length_col):
    """P8 — spans (start, end-exclusive, label) -> BIO tag array (HOF).

    Later spans overwrite earlier ones exactly like the reference's
    in-place loop (hyperred_data_process.py:535-543).
    """
    return F.transform(
        F.sequence(F.lit(0), length_col - 1),
        lambda i: F.aggregate(
            spans_col,
            F.lit("O"),
            lambda acc, s: F.when(
                (i == s["start"]), F.concat(F.lit("B-"), s["label"])
            ).when(
                (i > s["start"]) & (i < s["end"]),
                F.concat(F.lit("I-"), s["label"]),
            ).otherwise(acc),
        ),
    )


def bio_decode(tags_col):
    """P8 — BIO tags -> spans (start, end-exclusive, label) (HOF fold).

    Matches BioEncoder.decode (hyperred_data_process.py:546-564): a B opens
    a run; I extends the latest run; the label is taken from the B tag.
    """
    idx = F.sequence(F.lit(0), F.size(tags_col) - 1)
    runs = F.aggregate(
        idx,
        F.array().cast("array<struct<start:int,end:int,label:string>>"),
        lambda acc, i: F.when(
            F.element_at(tags_col, i + 1).startswith("B"),
            F.concat(
                acc,
                F.array(
                    F.struct(
                        i.cast("int").alias("start"),
                        (i + 1).cast("int").alias("end"),
                        F.regexp_replace(
                            F.element_at(tags_col, i + 1), "^[BI]-", ""
                        ).alias("label"),
                    )
                ),
            ),
        ).when(
            F.element_at(tags_col, i + 1).startswith("I") & (F.size(acc) > 0),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["start"].alias("start"),
                        (i + 1).cast("int").alias("end"),
                        F.element_at(acc, -1)["label"].alias("label"),
                    )
                ),
            ),
        ).otherwise(acc),
    )
    return runs
