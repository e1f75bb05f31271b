"""``get_spark`` sizes shuffle partitions to a local master's cores,
raises a self-launched local JVM's C2 thresholds and starts that JVM from
a cached class-data archive."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from text2nkg_spark import session
from text2nkg_spark.session import (
    _JIT_OPTIONS, cds_dir, cds_key, get_spark, local_cores)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    res = subprocess.run([sys.executable, "-c", code], cwd=REPO,
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


# -- launching from the class-data archive cache -----------------------------

def _key() -> str:
    return cds_key(session._java_home(),
                   os.path.join(_find_spark_home(), "jars"))


@pytest.fixture
def launch(monkeypatch, tmp_path):
    """A self-launch with no JVM yet, the cache under ``tmp_path`` and a
    conf dir of templates; calling it returns the builder's options and
    ``SPARK_CONF_DIR`` as ``getOrCreate`` saw them, starting no JVM."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for var in ("PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate",
        lambda self: (dict(self._options), os.environ.get("SPARK_CONF_DIR")))
    return lambda: get_spark("cds", master="local[1]")


def test_cds_key_follows_the_java_version_and_the_jars(tmp_path):
    jdk, jars = tmp_path / "jdk", tmp_path / "jars"
    jdk.mkdir()
    jars.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (jars / "a.jar").write_bytes(b"a")
    key = cds_key(str(jdk), str(jars))
    assert key == cds_key(str(jdk), str(jars))
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert cds_key(str(jdk), str(jars)) != key
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (jars / "b.jar").write_bytes(b"b")
    assert cds_key(str(jdk), str(jars)) not in (key, None)
    assert cds_key(str(tmp_path / "no-jdk"), str(jars)) is None


def test_template_conf_dir_launches_from_the_archive_cache(launch):
    user_conf = os.environ["SPARK_CONF_DIR"]
    opts, conf = launch()
    empty = os.path.join(cds_dir(), "conf")
    assert conf == empty and os.listdir(empty) == []
    assert os.environ["SPARK_CONF_DIR"] == user_conf
    tmp = os.path.join(cds_dir(), f"{_key()}.{os.getpid()}.tmp")
    assert opts["spark.driver.defaultJavaOptions"].split() == [
        *_JIT_OPTIONS.split(), f"-XX:ArchiveClassesAtExit={tmp}",
        "-Xlog:cds=error"]
    assert not os.path.exists(tmp)  # no JVM started to write it
    archive = os.path.join(cds_dir(), f"{_key()}.3.jsa")
    with open(archive, "wb") as f:
        f.write(b"jsa")
    opts, conf = launch()
    assert conf == empty
    assert opts["spark.driver.defaultJavaOptions"] == (
        f"{_JIT_OPTIONS} -XX:SharedArchiveFile={archive}")


def test_user_conf_dir_keeps_the_plain_launch(launch, tmp_path):
    (tmp_path / "conf" / "spark-defaults.conf").write_text("")
    opts, conf = launch()
    assert conf == str(tmp_path / "conf")
    assert opts["spark.driver.defaultJavaOptions"] == _JIT_OPTIONS
    assert not os.path.exists(cds_dir())


def test_spark_submit_session_keeps_environment_and_options(
        launch, monkeypatch, tmp_path):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    env = dict(os.environ)
    opts, conf = get_spark("submitted")
    assert conf == str(tmp_path / "conf") and dict(os.environ) == env
    assert not [k for k in opts if "JavaOptions" in k]
    assert not os.path.exists(cds_dir())


def test_unwritable_cache_or_live_dumper_means_a_plain_launch(
        launch, monkeypatch, tmp_path):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    opts, conf = launch()
    assert conf == str(tmp_path / "conf")
    assert opts["spark.driver.defaultJavaOptions"] == _JIT_OPTIONS
    # another live process (this one) is dumping the key's archive
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    os.makedirs(cds_dir())
    open(os.path.join(cds_dir(), f"{_key()}.{os.getpid()}.tmp"), "w").close()
    opts, _ = launch()
    assert opts["spark.driver.defaultJavaOptions"] == _JIT_OPTIONS


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_finished_dump_replaces_every_other_archive(tmp_path):
    """The archive takes its size into its name; other keys' archives and
    dead writers' dumps go, a live writer's stays."""
    live = tmp_path / f"cccc.{os.getpid()}.tmp"
    for name in ("aaaa.1.jsa", f"bbbb.{_dead_pid()}.tmp", live.name):
        (tmp_path / name).write_bytes(b"x")
    tmp = tmp_path / f"dddd.{os.getpid()}.tmp"
    tmp.write_bytes(b"archive")
    proc = subprocess.Popen(["true"], stdin=subprocess.PIPE)
    session._finish_dump(proc, str(tmp))
    assert sorted(os.listdir(tmp_path)) == sorted(["dddd.7.jsa", live.name])


def test_failed_or_hung_dump_is_never_moved_into_place(tmp_path,
                                                       monkeypatch):
    tmp = tmp_path / "dddd.1.tmp"
    tmp.write_bytes(b"half")
    session._finish_dump(
        subprocess.Popen(["false"], stdin=subprocess.PIPE), str(tmp))
    assert os.listdir(tmp_path) == []
    tmp.write_bytes(b"half")
    monkeypatch.setattr(session, "_DUMP_WAIT_S", 0.2)
    hung = subprocess.Popen(["sleep", "60"], stdin=subprocess.PIPE)
    session._finish_dump(hung, str(tmp))
    assert hung.returncode is not None  # killed, not left running
    assert os.listdir(tmp_path) == []


_SESSION = """
import json
from text2nkg_spark.session import get_spark
s = get_spark("cds", master="local[1]")
jvm = s.sparkContext._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({"archive": bean.getVMOption("SharedArchiveFile").getValue(),
                  "rows": s.range(7).count(),
                  "pid": s.sparkContext._gateway.proc.pid}))
"""


def _session(cache) -> tuple[dict, str]:
    """One subprocess session with its cache under ``cache``: its report
    and everything it (and its JVM) printed."""
    conf = os.path.join(cache, "conf-templates")
    os.makedirs(conf, exist_ok=True)
    open(os.path.join(conf, "log4j2.properties.template"), "w").close()
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV)}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=conf)
    res = subprocess.run([sys.executable, "-c", _SESSION], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    return (json.loads(res.stdout.strip().splitlines()[-1]),
            res.stdout + res.stderr)


def _javas_under(path) -> list[int]:
    """Live processes whose command line names ``path``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if str(path).encode() in f.read():
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache whose archive a first subprocess session dumped."""
    cache = tmp_path_factory.mktemp("cds-cache")
    report, _ = _session(cache)
    yield cache, report
    shutil.rmtree(cache)


def test_first_session_dumps_and_the_next_maps_the_archive(dumped):
    """The diagnostic bean names the archive even when the JVM could not
    map it, so the JVM's own warning must be absent too."""
    cache, first = dumped
    cds = os.path.join(cache, "text2nkg_spark", "cds")
    archives = glob.glob(os.path.join(cds, f"{_key()}.*.jsa"))
    assert len(archives) == 1 and first["rows"] == 7
    assert not glob.glob(os.path.join(cds, "*.tmp"))
    assert _javas_under(cache) == []
    report, out = _session(cache)
    assert report["archive"] == archives[0] and report["rows"] == 7
    assert "Unable to use shared archive" not in out
    assert _javas_under(cache) == []


@pytest.mark.parametrize("damage", ["truncated", "garbage"])
def test_damaged_archive_still_starts_a_session(dumped, tmp_path, damage):
    """A cut-short archive is dumped again (the JVM would map it and crash);
    garbage of the recorded length is refused by the JVM, which falls back
    to a plain start (-Xshare:auto)."""
    cache = tmp_path / "cache"
    shutil.copytree(dumped[0], cache)
    (archive,) = glob.glob(str(cache / "text2nkg_spark" / "cds" / "*.jsa"))
    os.chmod(archive, 0o644)
    size = os.path.getsize(archive)
    with open(archive, "r+b") as f:
        if damage == "truncated":
            f.truncate(size // 2)
        else:
            f.write(os.urandom(size))
    report, _ = _session(cache)
    assert report["rows"] == 7
    assert _javas_under(cache) == []
    if damage == "truncated":
        (archive,) = glob.glob(str(cache / "text2nkg_spark" / "cds" / "*.jsa"))
        assert os.path.getsize(archive) == int(archive.split(".")[-2])
