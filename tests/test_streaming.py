"""Structured Streaming ingestion == batch results (availableNow parity)."""

import os

import pytest
from pyspark.sql import functions as F

from text2nkg_spark.config import DataGenConfig, PipelineConfig
from text2nkg_spark.datagen import gen_transcripts_pdf
from text2nkg_spark.operators.extraction import extract_facts_fused
from text2nkg_spark.operators.mentions import detect_mentions
from text2nkg_spark.plans.pipeline import (
    default_label_space, prepare_sentences)
from text2nkg_spark.streaming.ingest import (
    run_to_parquet, stream_extract_facts, stream_transcripts)

GEN = DataGenConfig(n_convs=30, turns_per_conv=6, seed=3)


@pytest.fixture(scope="module")
def tr_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    pdf = gen_transcripts_pdf(GEN)
    spark.createDataFrame(pdf).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    ).repartition(6).write.mode("overwrite").parquet(str(d / "tr"))
    return str(d / "tr")


def test_stream_extraction_equals_batch(spark, tr_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("stream_out")
    cfg = PipelineConfig(scorer="hash")
    space = default_label_space()

    stream = stream_transcripts(spark, tr_dir)
    assert stream.isStreaming
    q = run_to_parquet(
        stream_extract_facts(stream, cfg, space),
        str(out / "facts"), str(out / "ckpt"))
    q.awaitTermination(120)

    got = spark.read.parquet(str(out / "facts"))
    batch_in = spark.read.parquet(tr_dir)
    want = extract_facts_fused(
        prepare_sentences(batch_in), cfg, space)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0


def test_stream_restart_processes_only_new_files(spark, tr_dir,
                                                 tmp_path_factory):
    """Checkpointed restart = incremental exactly-once: after the first
    availableNow drain finishes, new input files land and the SAME query
    (same checkpoint + sink) restarts — the old files must not be
    reprocessed (no duplicate facts) and the new ones must be picked up,
    so the final sink equals one batch extraction over the union."""
    d = tmp_path_factory.mktemp("stream_restart")
    in_dir, out_dir, ckpt = str(d / "in"), str(d / "out"), str(d / "ckpt")
    first = spark.read.parquet(tr_dir)
    first.write.mode("overwrite").parquet(in_dir)

    cfg = PipelineConfig(scorer="hash")
    space = default_label_space()

    def drain():
        q = run_to_parquet(
            stream_extract_facts(stream_transcripts(spark, in_dir),
                                 cfg, space), out_dir, ckpt)
        # fail LOUD on timeout: proceeding with the first query still
        # active would hand the second drain a checkpoint-in-use error
        assert q.awaitTermination(120), "drain did not finish in 120 s"

    drain()
    n_first = spark.read.parquet(out_dir).count()
    assert n_first > 0

    # second wave: brand-new conversations arrive as new files
    second = first.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("_wave2")))
    second.write.mode("append").parquet(in_dir)
    drain()

    got = spark.read.parquet(out_dir)
    want = extract_facts_fused(
        prepare_sentences(spark.read.parquet(in_dir)), cfg, space)
    # multiset equality: any reprocessing of wave-1 files would duplicate
    # their facts and fail exceptAll in the got->want direction (NOT
    # 2*n_first — sentence merge dedups wave-2's identical texts across
    # conversations, exactly as one batch over the union would)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > n_first
    assert got.where(F.col("conv_id").endswith("_wave2")).count() > 0
