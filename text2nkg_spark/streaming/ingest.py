"""Structured Streaming ingestion of transcript turns.

The reference is a batch script (no streaming anywhere — SURVEY.md §2.9);
this module is the graft's forward-looking ingest path: the same extraction
dataflow running incrementally over arriving transcript files.

* ``stream_transcripts``      — file-source readStream with explicit schema.
* ``stream_extract_facts``    — the batch builder ``plans.pipeline.extract``
  applied to the stream (mapInPandas is fully supported on streaming
  DataFrames; the pipeline stays stateless, so no state store is involved).
* ``windowed_turn_counts``    — watermarked tumbling-window aggregation
  (late data beyond the watermark is dropped, the standard pattern).
* ``running_conv_stats``      — custom stateful operator via
  ``applyInPandasWithState``: per-conversation running turn/char counters,
  the streaming analogue of document assembly bookkeeping.
* ``run_to_parquet``          — availableNow-triggered sink with checkpoint
  (exactly-once file sink semantics).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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


def windowed_turn_counts(
    stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("role"))
        .agg(F.count(F.lit(1)).alias("n_turns"),
             F.sum(F.length("text")).alias("n_chars"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role", "n_turns", "n_chars")
    )


_STATE_SCHEMA = "n_turns long, n_chars long"
_CONV_STATS_SCHEMA = "conv_id string, n_turns long, n_chars long"


def running_conv_stats(stream: DataFrame) -> DataFrame:
    """Per-conversation running totals via applyInPandasWithState."""

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n_turns, n_chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_turns += len(pdf)
            n_chars += int(pdf["text"].str.len().sum())
        state.update((n_turns, n_chars))
        yield pd.DataFrame(
            [{"conv_id": key[0], "n_turns": n_turns, "n_chars": n_chars}])

    return (
        stream.groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=_CONV_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_parquet(
    stream: DataFrame, out_dir: str, checkpoint_dir: str,
    output_mode: str = "append",
):
    """availableNow trigger: drain everything currently available, then stop
    (the batch-parity harness used by tests); checkpointed for exact resume.

    The parquet sink only supports append mode; update-mode streams (the
    stateful operators) go through ``foreachBatch`` with an idempotent
    per-batch append — the standard pattern for update-mode file output."""
    if output_mode == "append":
        return (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def dedup_turns_within_watermark(
    stream: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state
    (``dropDuplicatesWithinWatermark``): duplicate turns arriving within
    the watermark horizon of each other collapse to one row, and the
    state store evicts keys older than the horizon — an unbounded stream
    cannot keep every key forever, so horizon-bounded dedup is the
    standard scale trade (plain ``dropDuplicates`` on a stream grows
    state without bound).  Key = (conv_id, turn_idx, md5(text)) — the
    same content identity the batch ``dedup_exact`` family uses.
    """
    keyed = stream.withColumn(
        "_ck",
        F.md5(F.concat_ws(
            "\x01", F.col("conv_id"),
            F.col("turn_idx").cast("string"), F.col("text"))))
    return (
        keyed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_ck"])
        .drop("_ck")
    )
