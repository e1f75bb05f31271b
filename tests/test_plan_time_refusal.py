"""``run_pipeline`` refuses a config it cannot build before it writes any
stage: no ``sentences`` parquet or manifest is left behind."""

import pytest

from text2nkg_spark.config import DataGenConfig, PipelineConfig
from text2nkg_spark.datagen import gen_transcripts_pdf
from text2nkg_spark.plans.pipeline import run_pipeline


@pytest.mark.parametrize("cfg,match", [
    (PipelineConfig(nary_schema="event"), "extract_facts_multi"),
    (PipelineConfig(scorer="gold"), "gold_relations"),
], ids=["event_schema", "gold_without_table"])
def test_run_pipeline_refuses_before_any_stage(spark, tmp_path, cfg, match):
    tr = spark.createDataFrame(gen_transcripts_pdf(
        DataGenConfig(n_convs=4, turns_per_conv=3, seed=1)))
    root = tmp_path / "out"
    with pytest.raises(ValueError, match=match):
        run_pipeline(spark, tr, str(root), cfg)
    assert not root.exists() or not list(root.iterdir())
