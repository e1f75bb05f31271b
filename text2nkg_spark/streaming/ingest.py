"""Structured Streaming ingestion of transcript turns.

The reference is a batch script (no streaming anywhere — SURVEY.md §2.9);
this module is the graft's forward-looking ingest path: the same extraction
dataflow running incrementally over arriving transcript files.

* ``stream_transcripts``      — file-source readStream with explicit schema.
* ``stream_extract_facts``    — the batch builder ``plans.pipeline.extract``
  applied to the stream (mapInPandas is fully supported on streaming
  DataFrames; the pipeline stays stateless, so no state store is involved).
* ``run_to_parquet``          — availableNow-triggered sink with checkpoint
  (exactly-once file sink semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def stream_extract_facts(stream: DataFrame, cfg, space) -> DataFrame:
    from text2nkg_spark.plans.pipeline import extract

    return extract(stream, cfg, space)


def run_to_parquet(stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """availableNow trigger: drain everything currently available, then stop
    (the batch-parity harness used by tests); checkpointed for exact resume.
    The parquet sink is append-only."""
    return (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
