"""Sources & sinks (SURVEY.md §2.1).

* ``read_table`` / ``write_table`` — format-parameterized (parquet default,
  Iceberg when the runtime jar + catalog are configured; the container here
  ships no Iceberg jar so parquet is the tested path — the call-sites are
  identical, which is the point).
* ``read_reference_jsonl`` — the reference's processed-document JSONL shape
  (run_re.py:251-268) with an EXPLICIT schema: supplying the schema avoids
  Spark's whole-file inference sampling pass (S2 scale note).
* ``write_facts_jsonl`` — one JSON fact per line, the shape of
  ``test_hkg_results.json`` (run_re.py:2387-2390).
* ``load_label_space_json`` — label.json (hyperred_data_process.py:440-448)
  into a LabelSpace; the dict is tiny and rides to executors inside the
  UDF closure (the moral equivalent of the reference's single read at
  run_re.py:2658-2664 + a Spark broadcast).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from text2nkg_spark.labels import LabelSpace


def read_table(spark: SparkSession, path_or_name: str, fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path_or_name)


def write_table(
    df: DataFrame,
    path_or_name: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path_or_name)


def read_reference_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Reference-processed JSONL with explicit schema (no inference pass).

    ``relations`` is kept as a raw JSON string column (heterogeneous
    positional lists per nary schema) and parsed by the P1 normalizer.
    """
    raw = spark.read.text(path)
    return raw.select(
        F.from_json(
            F.col("value"),
            "sentences array<array<string>>, doc_key string",
        ).alias("d"),
        F.get_json_object("value", "$.ner").alias("ner_json"),
        F.get_json_object("value", "$.relations").alias("relations_json"),
    ).select("d.sentences", "d.doc_key", "ner_json", "relations_json")


def write_facts_jsonl(compacted: DataFrame, path: str) -> None:
    """One canonical-JSON fact per line (test_hkg_results.json shape)."""
    compacted.select(F.col("canonical_json").alias("value")).write.mode(
        "overwrite").text(path)


def load_label_space_json(path: str) -> tuple[LabelSpace, dict]:
    """label.json -> (LabelSpace, raw dict).

    Shape (hyperred_data_process.py:440-448): ``id`` name->int map plus
    ``relation``/``qualifier`` id lists; names carry ``[r]``/``[k]``
    prefixes in the shipped data (SURVEY.md §1.1 notes the ``[q]``/``[k]``
    discrepancy — the shipped data uses ``[k]`` and so do we).
    """
    with open(path) as f:
        raw = json.load(f)
    by_id = {v[0] if isinstance(v, list) else v: k for k, v in raw["id"].items()}
    rels = [by_id[i] for i in sorted(raw["relation"])]
    quals = [by_id[i] for i in sorted(raw["qualifier"])]
    return LabelSpace.build(rels, quals), raw
