"""Tests of the benchmark itself: seeded inputs, output checks, and the
printed result matching BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pytest

from checks import check_batch, check_stream, oracle_sample
from run import ROOT
from text2nkg_spark.config import PipelineConfig
from text2nkg_spark.plans.manifest import input_fingerprint
from text2nkg_spark.plans.pipeline import default_label_space, run_pipeline
from workloads import WORKLOADS, stage_inputs

SMALL = dataclasses.replace(WORKLOADS["kg_build"], n_convs=12, stream_files=8)
SEED = 3


def _fingerprint(spark, root, seed):
    paths = stage_inputs(SMALL, seed, str(root))
    return input_fingerprint(spark.read.parquet(paths["batch"]))


def test_seed_determines_input_fingerprint(spark, tmp_path):
    first = _fingerprint(spark, tmp_path / "a", 1)
    assert _fingerprint(spark, tmp_path / "b", 1) == first
    assert _fingerprint(spark, tmp_path / "c", 2) != first


def test_late_stream_files_leave_the_workload_input_unchanged(tmp_path):
    import pyarrow.parquet as pq

    from text2nkg_spark.datagen import gen_transcripts_pdf

    paths = stage_inputs(SMALL, SEED, str(tmp_path), late_files=3)
    assert len(paths["late"]) == 3
    base = pq.read_table(paths["base"]).to_pandas()
    want = gen_transcripts_pdf(SMALL.gen_config(SEED))
    assert base["text"].tolist() == want["text"].tolist()
    late = pq.read_table(paths["late"]).to_pandas()
    assert set(late["conv_id"]).isdisjoint(base["conv_id"])


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("built")
    paths = stage_inputs(SMALL, SEED, str(root / "in"))
    cfg, space = PipelineConfig(), default_label_space()
    out = run_pipeline(spark, spark.read.parquet(paths["batch"]),
                       str(root / "out"), cfg, space)
    return out, cfg, space


def test_dropped_compacted_row_fails_batch_check(built):
    out, cfg, space = built
    sample = oracle_sample(SMALL.gen_config(SEED), SEED, cfg, space)
    assert check_batch(out, sample) == []

    comp = out["compacted"]
    dropped = comp.exceptAll(
        comp.orderBy("conv_id", "turn_idx", "fact_id").limit(1))
    errors = check_batch(dict(out, compacted=dropped), sample)
    assert any(e.startswith("row counts differ") for e in errors), errors
    assert any(e.startswith("compacted != oracle") for e in errors), errors


def test_dropped_or_repeated_fact_fails_stream_check(built):
    preds = built[0]["predictions"]
    assert check_stream(preds, preds) == []
    assert check_stream(preds.exceptAll(preds.limit(1)), preds)
    assert check_stream(preds.unionByName(preds.limit(1)), preds)


def _run_bench(cwd, workload="kg_build", trace=0):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300)


# one run per path and per metric set: the traced run drives both paths
@pytest.mark.parametrize("workload,trace,key", [
    ("stream_ingest", 0, "end_to_end"), ("kg_build", 0, "end_to_end"),
    ("kg_build", 1, "per_layer")])
def test_printed_metrics_match_benchmark_json(workload, trace, key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(WORKLOADS) == sorted(w["name"] for w in spec["workloads"])
    p = _run_bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert ({name: m["unit"] for name, m in res["metrics"].items()}
            == {m["name"]: m["unit"] for m in spec[key]})


def test_fails_without_the_program(tmp_path):
    """Run from a tree holding only BENCHMARK.json and perfbench/: it must
    exit non-zero and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run_bench(str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
