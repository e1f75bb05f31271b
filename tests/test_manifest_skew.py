"""Checkpoint manifests: exact resume, input keys and stage lineage."""

import pytest
from pyspark.sql import functions as F

from text2nkg_spark.config import DataGenConfig, PipelineConfig
from text2nkg_spark.datagen import gen_transcripts_pdf
from text2nkg_spark.plans.manifest import StageManifest, input_fingerprint

GEN = DataGenConfig(n_convs=25, turns_per_conv=6, seed=21,
                    mention_density_skew=0.3)  # plenty of dense turns


@pytest.fixture(scope="module")
def tr(spark):
    return spark.createDataFrame(gen_transcripts_pdf(GEN)).cache()


def test_run_stage_builds_then_resumes(spark, tr, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("manifest"))
    man = StageManifest(root)
    fp = input_fingerprint(tr)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return tr.select("conv_id", "turn_idx", "text")

    df1 = man.run_stage(spark, "proj", fp, build)
    assert calls["n"] == 1
    n1 = df1.count()

    # resume: same fingerprint -> no rebuild, identical data
    df2 = man.run_stage(spark, "proj", fp, build)
    assert calls["n"] == 1
    assert df2.count() == n1

    # changed input -> rebuild
    df3 = man.run_stage(spark, "proj", fp + "x", build)
    assert calls["n"] == 2
    assert df3.count() == n1

    meta = man.read_meta("proj")
    assert meta["complete"] and meta["rows_out"] == n1
    assert len(meta["partitions"]) >= 1
    assert sum(p["rows"] for p in meta["partitions"]) == n1


def test_fingerprint_covers_every_row(spark):
    """An edit to a row past the first 1000 must change the resume key,
    or a rerun serves facts of the old text."""
    import pandas as pd

    pdf = pd.DataFrame({"conv_id": [f"c{i // 8:04d}" for i in range(1200)],
                        "turn_idx": [i % 8 for i in range(1200)],
                        "text": [f"turn {i} entA" for i in range(1200)]})
    edited = pdf.copy()
    edited.loc[1150, "text"] = "turn 1150 entB"
    a = input_fingerprint(spark.createDataFrame(pdf))
    b = input_fingerprint(spark.createDataFrame(edited))
    assert a != b
    # and it is order-insensitive: the same rows in another order agree
    assert input_fingerprint(
        spark.createDataFrame(pdf.iloc[::-1].reset_index(drop=True))) == a


def test_crash_mid_write_never_resumes_partial(spark, tr, tmp_path_factory):
    """Build on input A, then die mid-write of a rebuild on input B: a
    rerun on A must rebuild, not trust A's manifest over B's partial
    directory."""
    man = StageManifest(str(tmp_path_factory.mktemp("crash")))
    calls = {"n": 0}

    def build_a():
        calls["n"] += 1
        return tr.select("conv_id", "turn_idx", "text")

    last_conv = tr.agg(F.max("conv_id")).first()[0]

    @F.udf("string")
    def dies_on_last_conv(conv_id, text):
        if conv_id == last_conv:
            raise RuntimeError("killed mid-write")
        return text

    want = sorted(map(tuple, man.run_stage(spark, "s", "A", build_a)
                      .collect()))
    with pytest.raises(Exception, match="killed mid-write"):
        man.run_stage(spark, "s", "B", lambda: tr.repartition(4).select(
            "conv_id", "turn_idx",
            dies_on_last_conv("conv_id", "text").alias("text")))
    got = man.run_stage(spark, "s", "A", build_a)
    assert calls["n"] == 2
    assert sorted(map(tuple, got.collect())) == want


def _jobs_started(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_stage_job_counts(spark, tr, tmp_path_factory):
    """Lineage comes from the write: a fresh stage runs only its write's
    job, and a resume runs none (no schema inference, no stats collect)."""
    man = StageManifest(str(tmp_path_factory.mktemp("jobs")))
    fp = input_fingerprint(tr)
    tr.count()  # the cache fills outside the counted groups

    def build():
        return tr.select("conv_id", "turn_idx", "text")

    assert _jobs_started(spark, "fresh_stage", lambda: man.run_stage(
        spark, "narrow", fp, build)) == 1
    assert _jobs_started(spark, "resumed_stage", lambda: man.run_stage(
        spark, "narrow", fp, build)) == 0


def test_run_pipeline_end_to_end_and_resume(spark, tr, tmp_path_factory):
    from text2nkg_spark.plans.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("pipe"))
    cfg = PipelineConfig(scorer="hash")
    out = run_pipeline(spark, tr, root, cfg)
    n_facts = out["facts"].count()
    assert n_facts > 0
    assert out["main_triples"].count() > 0
    assert out["entities"].count() > 0

    man = StageManifest(root)
    walls = {s: man.read_meta(s)["wall_s"]
             for s in ("sentences", "predictions", "facts", "compacted")}

    # full rerun: every stage resumes from its manifest (wall_s unchanged)
    out2 = run_pipeline(spark, tr, root, cfg)
    for s, w in walls.items():
        assert man.read_meta(s)["wall_s"] == w
    assert out2["facts"].count() == n_facts

    # simulate a crash that lost one stage: only that stage rebuilds
    import os
    os.remove(os.path.join(root, "facts.manifest.json"))
    out3 = run_pipeline(spark, tr, root, cfg)
    assert man.read_meta("facts")["wall_s"] != walls["facts"]
    assert man.read_meta("predictions")["wall_s"] == walls["predictions"]
    assert out3["facts"].count() == n_facts


def test_metrics_sink_table(spark, tr, tmp_path_factory):
    """S6: run_pipeline writes a queryable long-format metrics table whose
    rows_out values match the actual stage outputs."""
    import os

    from text2nkg_spark.plans.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("pipe_metrics"))
    out = run_pipeline(spark, tr, root, PipelineConfig(scorer="hash"))
    m = spark.read.parquet(os.path.join(root, "metrics"))
    assert set(m.columns) == {"stage", "metric", "value"}
    got = {(r.stage, r.metric): r.value for r in m.collect()}
    assert got[("facts", "rows_out")] == out["facts"].count()
    assert got[("entities", "rows_out")] == out["entities"].count()
    assert got[("predictions", "n_partitions")] >= 1
    assert all(got[(s, "wall_s")] >= 0 for s in ("sentences", "facts"))


def test_metrics_lists_only_the_stages_of_its_run(spark, tmp_path):
    """A use_ner_results rerun into the out_root of a default run has no
    mention_ner stage, so its metrics table lists none: the earlier run's
    mention_ner manifest is still on disk, but this run did not build it."""
    import os

    from text2nkg_spark.plans.pipeline import run_pipeline

    tr = spark.createDataFrame(gen_transcripts_pdf(
        DataGenConfig(n_convs=4, turns_per_conv=4, seed=5)))
    root = str(tmp_path / "out")
    run_pipeline(spark, tr, root, PipelineConfig(scorer="hash"))
    out = run_pipeline(spark, tr, root,
                       PipelineConfig(scorer="hash", use_ner_results=True))
    assert "mention_ner" not in out
    assert StageManifest(root).read_meta("mention_ner") is not None
    m = spark.read.parquet(os.path.join(root, "metrics"))
    assert {r.stage for r in m.select("stage").distinct().collect()} == (
        set(out) - {"metrics"})


def test_resume_key_covers_semantic_config(spark, tr, tmp_path_factory):
    """Changing a prediction-shaping config field (tokenizer) on the same
    out_root must REBUILD the predictions stage, not serve stale parquet."""
    from text2nkg_spark.plans.pipeline import run_pipeline

    root = str(tmp_path_factory.mktemp("pipe_fp"))
    run_pipeline(spark, tr, root, PipelineConfig(scorer="hash"))
    man = StageManifest(root)
    fp_before = man.read_meta("predictions")["input_fingerprint"]
    run_pipeline(spark, tr, root,
                 PipelineConfig(scorer="hash", tokenizer="wordpiece",
                                max_seq_length=64))
    fp_after = man.read_meta("predictions")["input_fingerprint"]
    assert fp_before != fp_after
    # the unidirect ablation also shapes predictions (review-found gap:
    # the key originally omitted it and served stale ensembled parquet)
    run_pipeline(spark, tr, root,
                 PipelineConfig(scorer="hash", eval_unidirect=True))
    fp_uni = man.read_meta("predictions")["input_fingerprint"]
    assert fp_uni not in (fp_before, fp_after)


@pytest.fixture
def parquet_in(spark, tmp_path):
    """GEN's turns as three plain parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = gen_transcripts_pdf(GEN)
    pdf["ts"] = pdf["ts"].astype("datetime64[us, UTC]")
    root = tmp_path / "in"
    root.mkdir()
    for i, lo in enumerate(range(0, len(pdf), 50)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[lo:lo + 50],
                                            preserve_index=False),
                       str(root / f"part-{i:05d}.parquet"))
    return str(root)


def test_file_scan_key_covers_the_plan_and_runs_no_job(spark, parquet_in):
    """The same files read plain, filtered and projected give three keys,
    none of them from a Spark job."""
    frames = {
        "plain": spark.read.parquet(parquet_in),
        "filtered": spark.read.parquet(parquet_in).where("turn_idx > 2"),
        "projected": spark.read.parquet(parquet_in).select(
            "conv_id", "turn_idx", "text"),
    }
    keys = {}
    for name, df in frames.items():
        assert _jobs_started(spark, f"fp_{name}", lambda: keys.update(
            {name: input_fingerprint(df)})) == 0
    assert len(set(keys.values())) == 3
    # a fresh read of the same files keys the same
    assert input_fingerprint(spark.read.parquet(parquet_in)) == keys["plain"]


def test_file_scan_key_sees_a_rewritten_file(spark, parquet_in):
    """Rewriting one input file in place, one row changed, changes the
    key, and keying the rewritten input runs no Spark job either."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    before = input_fingerprint(spark.read.parquet(parquet_in))
    path = sorted(glob.glob(os.path.join(parquet_in, "*.parquet")))[1]
    table = pq.read_table(path)
    pdf = table.to_pandas()
    pdf.loc[7, "text"] = pdf.loc[7, "text"].swapcase()
    pq.write_table(pa.Table.from_pandas(pdf, schema=table.schema,
                                        preserve_index=False), path)
    df = spark.read.parquet(parquet_in)
    after = []
    assert _jobs_started(spark, "fp_rewritten", lambda: after.append(
        input_fingerprint(df))) == 0
    assert after[0] != before


def test_udf_bodies_fall_back_to_the_row_hash(spark, parquet_in):
    """Two Python UDFs of one name, different bodies: the plan text shows
    only the name, so the key comes from the rows, and differs."""
    df = spark.read.parquet(parquet_in)
    keys = [input_fingerprint(df.select(
        "conv_id", F.udf(body, "string")("text").alias("text")))
        for body in (lambda t: t.upper(), lambda t: t.lower())]
    assert keys[0] != keys[1]
    assert not any(k.startswith("files|") for k in keys)


def test_local_input_keeps_the_row_hash(spark):
    """A createDataFrame input is no file scan: its key is the row hash
    (schema | count | multiset hash; test_fingerprint_covers_every_row)."""
    tr = spark.createDataFrame(gen_transcripts_pdf(GEN))
    schema, n, _h = input_fingerprint(tr).rsplit("|", 2)
    assert (schema, int(n)) == (tr.schema.simpleString(), len(
        gen_transcripts_pdf(GEN)))


def test_cached_file_scan_keeps_the_row_hash(spark, parquet_in):
    """A cached read serves the rows the cache holds, whatever the files
    hold now, so its key comes from those rows."""
    df = spark.read.parquet(parquet_in).where("turn_idx > 0").cache()
    try:
        assert not input_fingerprint(df).startswith("files|")
    finally:
        df.unpersist()


def _copy_dir(files, root):
    import os
    import shutil

    os.makedirs(root)
    for f in files:
        shutil.copyfile(f, os.path.join(root, os.path.basename(f)))
    return root


def test_file_scan_key_pairs_each_leaf_with_its_files(spark, parquet_in,
                                                      tmp_path):
    """The plan text prints a file leaf without its path, so the files are
    keyed per leaf in plan order: swapping which directory feeds which
    side of a subtract, or which side a filter sits on, changes the key."""
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(parquet_in, "*.parquet")))
    a = _copy_dir(parts[:1], str(tmp_path / "a"))
    b = _copy_dir(parts[1:], str(tmp_path / "b"))

    def read(p):
        return spark.read.parquet(p)

    pairs = [
        (read(a).subtract(read(b)), read(b).subtract(read(a))),
        (read(a).where("turn_idx > 2").unionByName(read(b)),
         read(b).where("turn_idx > 2").unionByName(read(a))),
    ]
    for x, y in pairs:
        kx, ky = input_fingerprint(x), input_fingerprint(y)
        assert kx.startswith("files|") and ky.startswith("files|")
        assert kx != ky


def test_file_scan_key_covers_reader_options(spark, tmp_path):
    """One CSV file read with two separators under one explicit schema:
    same plan text, different rows, different keys."""
    path = tmp_path / "t.csv"
    path.write_text("1,2;3\n4,5;6\n")
    keys = [input_fingerprint(spark.read.schema("a string, b string")
                              .option("sep", sep).csv(str(path)))
            for sep in (";", ",")]
    assert all(k.startswith("files|") for k in keys)
    assert keys[0] != keys[1]


def test_file_scan_key_follows_content_not_location(spark, parquet_in,
                                                    tmp_path):
    """The same bytes staged in two directories (new paths, new mtimes)
    key the same; the same bytes under two partition values do not,
    whether the read names the table root or the partition directory
    under a ``basePath``."""
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(parquet_in, "*.parquet")))
    copy = _copy_dir(parts, str(tmp_path / "copy"))
    assert (input_fingerprint(spark.read.parquet(copy))
            == input_fingerprint(spark.read.parquet(parquet_in)))
    keys = []
    for d in ("1", "2"):
        root = str(tmp_path / f"part{d}")
        _copy_dir(parts[:1], os.path.join(root, f"d={d}"))
        keys.append(input_fingerprint(spark.read.parquet(root)))
        keys.append(input_fingerprint(spark.read.option("basePath", root)
                                      .parquet(os.path.join(root, f"d={d}"))))
    assert all(k.startswith("files|") for k in keys)
    assert keys[0] != keys[2] and keys[1] != keys[3]


def test_rerun_in_a_fresh_process_resumes_every_stage(spark, parquet_in,
                                                      tmp_path):
    """run_pipeline over parquet, rerun in another process (its own JVM,
    so other expression ids and semantic hashes): no stage rebuilds, and
    the rerun starts no Spark job at all."""
    import glob
    import json
    import os
    import subprocess
    import sys

    from text2nkg_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "out")
    run_pipeline(spark, spark.read.parquet(parquet_in), out,
                 PipelineConfig())

    def walls():
        return {p: json.load(open(p))["wall_s"]
                for p in glob.glob(os.path.join(out, "*.manifest.json"))}

    before = walls()
    assert len(before) == 11
    script = (
        "import sys\n"
        "from text2nkg_spark.config import PipelineConfig\n"
        "from text2nkg_spark.plans.pipeline import run_pipeline\n"
        "from text2nkg_spark.session import get_spark\n"
        "spark = get_spark('rerun', master='local[2]')\n"
        "sc = spark.sparkContext\n"
        "tr = spark.read.parquet(sys.argv[1])\n"
        "sc.setJobGroup('rerun', 'rerun')\n"
        "run_pipeline(spark, tr, sys.argv[2], PipelineConfig())\n"
        "sc._jsc.sc().listenerBus().waitUntilEmpty()\n"
        "print(len(sc.statusTracker().getJobIdsForGroup('rerun')))\n"
        "spark.stop()\n")
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    rerun = subprocess.run(
        [sys.executable, "-c", script, parquet_in, out], env=env,
        check=True, timeout=600, capture_output=True, text=True)
    assert walls() == before
    assert rerun.stdout.split()[-1] == "0"
