"""spark-submit --py-files end-to-end deploy-shape test.

The north rule's launch mode is ``spark-submit --py-files text2nkg_spark.zip
jobs/...`` on a multi-executor cluster.  This test exercises exactly that
shape as a real subprocess:

* the package ships ONLY as the ``--py-files`` zip — the job script is
  copied out of the repo and run from a temp cwd with PYTHONPATH scrubbed,
  so any import leak from the source tree would fail loudly;
* the launcher owns the master — the job's stats line echoes
  ``spark.sparkContext.master`` and we assert it is the submit-time value,
  i.e. ``get_spark`` did not clobber ``--master`` (the cluster-deploy bug
  this guards against);
* outputs are verified on disk (partitioned parquet + manifests), not just
  via exit code.

The test pays one cold JVM (~30 s); its input is tiny (160 synthetic
turns) so the pipeline work itself is seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    # ONLY the pip-pyspark launcher: it is version-locked to the installed
    # python package.  A PATH/SPARK_HOME spark-submit may be a different
    # Spark distribution and would fail with a confusing py4j mismatch
    # rather than anything this test is about.
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")
    return cand if os.path.exists(cand) else None


@pytest.fixture(scope="session")
def pkg_zip(tmp_path_factory) -> str:
    """The --py-files package zip, built once per test session."""
    dest = tmp_path_factory.mktemp("pyfiles")
    zip_path = os.path.join(str(dest), "text2nkg_spark.zip")
    pkg = os.path.join(REPO, "text2nkg_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zip_path


def _submit(job_src: str, job_args: list[str], tmp_path,
            zip_path: str) -> dict:
    submit = _spark_submit()
    if submit is None:
        pytest.skip("pip pyspark launcher not available")
    # copy the job OUT of the repo: its sys.path bootstrap then points at
    # tmp, so the package can only come from --py-files
    job = tmp_path / "jobs" / os.path.basename(job_src)
    job.parent.mkdir(exist_ok=True)
    shutil.copy(job_src, job)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    # SPARK_HOME could point the pip launcher at a DIFFERENT Spark distro
    # (version mismatch vs the imported pyspark) — scrub it
    env.pop("SPARK_HOME", None)
    # pin the self-launched default core count away from the submit-time
    # master: if get_spark regressed to forcing local[$SPARK_GRAFT_CPUS],
    # the stats["master"] assertion below must be able to see it
    env["SPARK_GRAFT_CPUS"] = "32"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        submit,
        "--master", "local[4]",
        "--driver-memory", "4g",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        str(job),
    ] + job_args
    res = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=420)
    assert res.returncode == 0, (
        f"spark-submit failed\n--- stdout ---\n{res.stdout[-3000:]}"
        f"\n--- stderr ---\n{res.stderr[-3000:]}")
    stats_lines = [ln for ln in res.stdout.splitlines()
                   if ln.startswith("{") and ln.rstrip().endswith("}")]
    assert stats_lines, f"no stats JSON on stdout:\n{res.stdout[-2000:]}"
    return json.loads(stats_lines[-1])


def _parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def test_spark_submit_extraction_e2e(tmp_path, pkg_zip):
    out = tmp_path / "nkg_out"
    stats = _submit(os.path.join(REPO, "jobs", "run_extraction.py"),
                    ["--synthetic", "160", "--output", str(out)], tmp_path,
                    pkg_zip)
    # launcher master respected (get_spark must not override --master)
    assert stats["master"] == "local[4]"
    assert stats["sentences"] > 0
    assert stats["facts"] > 0
    # main-triple decomposition dedups (subj,pred,obj) across facts
    assert 0 < stats["main_triples"] <= stats["facts"]
    assert 0 < stats["compacted"] <= stats["facts"]
    # on-disk artifacts: stage parquet + per-stage manifest with matching
    # row counts (the resume/lineage contract, exercised through the
    # launcher, not an in-process session)
    stages = {k: v for k, v in stats.items() if k not in ("wall_s", "master")}
    assert "facts" in stages and "metrics" in stages
    # every stage count the job prints (taken from its manifest) is the
    # row count of the stage's parquet
    assert stages == {k: _parquet_rows(str(out / k)) for k in stages}
    with open(out / "facts.manifest.json") as f:
        meta = json.load(f)
    assert meta["complete"] and meta["rows_out"] == stats["facts"]
    assert all("rows" in p for p in meta["partitions"])
