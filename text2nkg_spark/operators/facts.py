"""G1/G2 — n-ary fact assembly + compaction, and the canonical-JSON
projection used for exact-match scoring.  All native Spark SQL.

Reference semantics:
* fact text = space-joined inclusive token slice (run_re.py:2378-2386);
  the fused extraction UDF already emits subj/obj/value texts.
* compaction groups facts by the concatenated ``relation+subject+object``
  string key and merges qualifier dicts, concatenating value lists for
  repeated qualifier keys; N = 2 + total qualifier values
  (run_re.py:2400-2423 — len(t_d) - 2 + ext reduces to that).
* qualifier KEY order inside a compacted fact = first-occurrence order over
  the prediction stream; VALUE order within a key = prediction order
  (dict/list insertion order in the reference) — reproduced with min/ordered
  aggregation over ``pred_idx``.

Scale: one hash aggregation keyed (conv_id, turn_idx, rel, subj, obj);
map-side partial aggregation applies, AQE coalesces. Facts per key are tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def fact_table(preds: DataFrame) -> DataFrame:
    """facts — one row per emitted prediction, with a content-hash fact_id.

    fact_id identifies the compacted main triple (conv, turn, rel, subj, obj)
    so qualifier rows from the same main triple share it (north_rule
    decomposition: main triple rows + qualifier rows keyed by fact_id).
    """
    return preds.withColumn(
        "fact_id",
        F.sha2(
            F.concat_ws(
                "\x01", "conv_id", "turn_idx", "rel", "subj", "obj"), 256),
    )


def main_triples(facts: DataFrame) -> DataFrame:
    """Distinct (subj, pred, obj) main triples with provenance + score."""
    return (
        facts.groupBy("conv_id", "turn_idx", "fact_id", "rel", "subj", "obj")
        .agg(
            F.min("pred_idx").alias("first_pred_idx"),
            F.max("rel_score").alias("rel_score"),
            F.min("m1s").alias("subj_start"), F.min("m1e").alias("subj_end"),
            F.min("m2s").alias("obj_start"), F.min("m2e").alias("obj_end"),
        )
        .withColumnRenamed("rel", "pred")
    )


def qualifier_triples(facts: DataFrame) -> DataFrame:
    """(fact_id, qual, value) qualifier rows in prediction order."""
    return facts.select(
        "conv_id", "turn_idx", "fact_id", "pred_idx", "qual",
        F.col("value"),
        F.col("m3s").alias("val_start"), F.col("m3e").alias("val_end"),
        F.col("q_score"),
    )


# json.dumps' two-character escapes; every other character outside
# printable ASCII becomes \uXXXX per UTF-16 code unit (ensure_ascii)
_JSON_SHORT = {'"': '\\"', "\\": "\\\\", "\n": "\\n", "\r": "\\r",
               "\t": "\\t", "\b": "\\b", "\f": "\\f"}


def json_escape(col):
    """A string column as the body of its ``json.dumps`` (``ensure_ascii``)
    literal, without the quotes — the one escaper of the predicted and the
    gold canonical JSON.  Printable-ASCII strings without ``"`` or ``\\``
    pass unchanged; any other string is rebuilt code point by code point:
    short escapes, printable ASCII as is, the rest as ``\\uXXXX`` (a
    surrogate pair for an astral character, as ``json.dumps`` writes it)."""
    def char(ch):
        out = F.when(ch.rlike("[ -~]"), ch).otherwise(F.regexp_replace(
            F.lower(F.hex(F.encode(ch, "UTF-16BE"))), "(.{4})", r"\\u$1"))
        for raw, short in _JSON_SHORT.items():
            out = F.when(ch == raw, short).otherwise(out)
        return out

    return F.when(col.rlike(r"\A[ !#-\[\]-~]*\z"), col).otherwise(
        F.array_join(F.transform(
            F.regexp_extract_all(col, F.lit("(?s)(.)"), 1), char), ""))


def compacted_facts(facts: DataFrame, per: str = "turn") -> DataFrame:
    """One row per compacted fact with reference-identical canonical JSON.

    Reproduces ``json.dumps({"N": n, "relation": .., "subject": ..,
    "object": .., qual1: [v, ...], ...})`` byte-for-byte, qualifier keys in
    first-occurrence order, values in prediction order.

    ``per``: 'turn' compacts within a sentence — the reference's effective
    granularity on its single-sentence documents; 'conv' compacts across a
    whole conversation — the literal run_re.py:2400-2423 behavior, which
    iterates a DOCUMENT's prediction lines, merging same-(rel+subj+obj)
    facts across sentences.
    """
    if per == "conv":
        # global prediction order = document order: (turn, pred) — the
        # reference walks a document's sentences in order (run_re.py:2372)
        facts = facts.withColumn(
            "pred_idx",
            (F.col("turn_idx").cast("long") * 1_000_000 + F.col("pred_idx")))
        facts = facts.withColumn("turn_idx", F.lit(-1))
        # fact_id must also collapse across turns
        facts = facts.withColumn(
            "fact_id",
            F.sha2(F.concat_ws(
                "\x01", "conv_id", "rel", "subj", "obj"), 256))
    elif per != "turn":
        raise ValueError(per)
    quals = (
        facts.groupBy("conv_id", "turn_idx", "fact_id", "rel", "subj", "obj", "qual")
        .agg(
            F.min("pred_idx").alias("qual_order"),
            F.array_sort(
                F.collect_list(F.struct("pred_idx", "value"))
            ).alias("vals"),
        )
        .withColumn("values", F.transform("vals", lambda s: s["value"]))
        .drop("vals")
    )
    qual_json = quals.withColumn(
        "qual_json",
        F.concat(
            F.lit('"'), json_escape(F.col("qual")), F.lit('": ["'),
            F.array_join(F.transform("values", json_escape), '", "'),
            F.lit('"]'),
        ),
    ).withColumn("n_vals", F.size("values"))

    compacted = (
        qual_json.groupBy("conv_id", "turn_idx", "fact_id", "rel", "subj", "obj")
        .agg(
            F.sum("n_vals").alias("total_vals"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("qual_order", "qual_json"))),
                    lambda s: s["qual_json"],
                ),
                ", ",
            ).alias("quals_json"),
            F.min("qual_order").alias("first_pred_idx"),
        )
        .withColumn("N", (F.lit(2) + F.col("total_vals")).cast("int"))
        .withColumn(
            "canonical_json",
            F.concat(
                F.lit('{"N": '), F.col("N"),
                F.lit(', "relation": "'), json_escape(F.col("rel")),
                F.lit('", "subject": "'), json_escape(F.col("subj")),
                F.lit('", "object": "'), json_escape(F.col("obj")),
                F.lit('", '), F.col("quals_json"), F.lit("}"),
            ),
        )
    )
    return compacted
