"""``get_spark`` sizes shuffle partitions to a local master's cores and
raises a self-launched local JVM's C2 thresholds."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import SparkSession

from text2nkg_spark.session import _JIT_OPTIONS, get_spark, local_cores


def test_local_cores_reads_every_local_master_form():
    host = os.cpu_count()
    assert local_cores("local") == 1
    assert local_cores("local[4]") == 4
    assert local_cores("local[*]") == host
    assert local_cores("local[4,2]") == 4
    assert local_cores("local[*,3]") == host


def test_other_masters_have_no_local_cores():
    for master in ("yarn", "spark://h:7077", "k8s://https://h:443",
                   "local-cluster[2,1,1024]"):
        assert local_cores(master) is None


def test_local_jvm_runs_with_the_raised_c2_thresholds(spark):
    """Spark adds ``-XX:+IgnoreUnrecognizedVMOptions``, so a misspelt flag
    would pass silently: read the values the JVM runs with."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    for opt in _JIT_OPTIONS.split():
        name, value = opt.removeprefix("-XX:").split("=")
        assert bean.getVMOption(name).getValue() == value


def test_caller_java_options_reach_the_jvm_beside_the_jit_options():
    """``extra=`` passes ``spark.driver.extraJavaOptions``; Spark appends it
    to ``defaultJavaOptions``, so the JVM gets both."""
    code = (
        "import json\n"
        "from text2nkg_spark.session import get_spark\n"
        "s = get_spark('jvm-args', master='local[1]', extra={\n"
        "    'spark.driver.extraJavaOptions': '-Dt2n.probe=1'})\n"
        "mx = s.sparkContext._jvm.java.lang.management.ManagementFactory\n"
        "print(json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))\n"
        "s.stop()\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    args = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(_JIT_OPTIONS.split()) <= set(args)
    assert "-Dt2n.probe=1" in args


def test_spark_submit_session_gets_no_jvm_option(monkeypatch):
    """Under spark-submit the launcher owns the JVM: the factory sets no
    JVM option (it could not reach the running JVM anyway)."""
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    conf = get_spark("submitted")
    assert not [k for k in conf if "JavaOptions" in k]
    assert "spark.python.daemon.module" not in conf
