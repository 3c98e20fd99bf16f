"""The driver JVM's class-data archive (``session`` "JVM launch"): the
first launch publishes one whole archive, later launches map it, an
ineligible launch gets no archive flag, a failed or foreign dump is
never published, and a mismatched archive is ignored by the JVM.

Every session here runs in a subprocess whose ``XDG_CACHE_HOME`` is a
test directory, so the user's cache is never touched."""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from spark_kafka_airflow_pipeline_spark import session

REPO = Path(__file__).resolve().parent.parent
MAGIC = 0xF00BABA8  # the JDK's CDS_DYNAMIC_ARCHIVE_MAGIC
RAW_FS = "spark_kafka_airflow_pipeline_spark.jvm.ForkFreeLocalFileSystem$Raw"

PROBE = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from spark_kafka_airflow_pipeline_spark.session import get_spark
spark = get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
jvm = spark.sparkContext._jvm
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
    "rows": spark.range(3).count(),
    "master": spark.sparkContext.master,
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "py_conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "setting": spark.sparkContext.getConf().get("spark.graft.setting", None),
    "raw_fs": jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
                 .getRawFileSystem().getClass().getName(),
    "mapped": sorted({line.split()[-1] for line in open(
        f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/maps") if line.endswith(".jsa\\n")}),
}))
"""


def _conf_dir(path: Path, name: str) -> Path:
    """A conf dir holding one file, ``name``, that sets
    ``spark.graft.setting``."""
    path.mkdir()
    (path / name).write_text(f"spark.graft.setting  from-{name}\n")
    return path


def _probe(cache: Path, conf_dir: Path) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET",
                        "PYSPARK_SUBMIT_ARGS", "HADOOP_CONF_DIR",
                        "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=str(conf_dir),
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run([sys.executable, "-c", PROBE, str(REPO)], env=env,
                         cwd=cache, timeout=600, capture_output=True, text=True)
    assert run.returncode == 0, run.stderr[-4000:]
    return json.loads(run.stdout.strip().splitlines()[-1])


def _cds_files(cache: Path) -> list[Path]:
    return sorted((cache / "spark_kafka_airflow_pipeline_spark" / "cds").glob("*.*"))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache after one eligible session (the conf dir holds only a
    template): the cache dir, the conf dir and the first run's probe."""
    root = tmp_path_factory.mktemp("class_archive")
    cache = root / "cache"
    cache.mkdir()
    conf_dir = _conf_dir(root / "conf", "spark-defaults.conf.template")
    return cache, conf_dir, _probe(cache, conf_dir)


def test_first_run_publishes_one_whole_archive(built):
    cache, conf_dir, first = built
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["args"])
    files = _cds_files(cache)
    assert [f.suffix for f in files] == [".jsa"]
    with open(files[0], "rb") as f:
        assert int.from_bytes(f.read(4), sys.byteorder) == MAGIC
    # the launch saw the empty conf dir; the caller's env is unchanged
    # and the template's setting was never read
    assert first["jvm_conf_dir"] == str(files[0].parent / "conf")
    assert first["py_conf_dir"] == str(conf_dir)
    assert first["setting"] is None


def test_second_run_maps_the_archive(built):
    cache, conf_dir, _ = built
    [jsa] = _cds_files(cache)
    second = _probe(cache, conf_dir)
    args = second["args"]
    assert f"-XX:SharedArchiveFile={jsa}" in args
    assert str(jsa) in second["mapped"]  # beside the JDK's base archive
    assert second["raw_fs"] == RAW_FS
    # the caller's option is kept, ahead of the archive's
    assert args.index("-Dgraft.probe=1") < args.index(f"-XX:SharedArchiveFile={jsa}")
    assert not any(a.startswith("-Xshare") for a in args)
    assert second["rows"] == 3
    assert _cds_files(cache) == [jsa]


def test_conf_dir_with_settings_gets_no_archive(built, tmp_path):
    cache, _, _ = built
    conf_dir = _conf_dir(tmp_path / "conf", "spark-defaults.conf")
    run = _probe(cache, conf_dir)
    assert not any("Archive" in a for a in run["args"])
    assert "-Dgraft.probe=1" in run["args"]
    assert run["jvm_conf_dir"] == str(conf_dir)
    assert run["setting"] == "from-spark-defaults.conf"


def test_mismatched_archive_is_ignored(built, tmp_path):
    """The hit flags against an archive whose class path the JVM does
    not have: under the default ``-Xshare:auto`` it starts anyway."""
    cache, _, _ = built
    [jsa] = _cds_files(cache)
    java = (Path(os.environ["JAVA_HOME"]) / "bin" / "java"
            if os.environ.get("JAVA_HOME") else Path("java"))
    run = subprocess.run([str(java), "-cp", str(tmp_path / "other.jar"),
                          f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off",
                          "-Xlog:cds+dynamic=off", "-version"],
                         timeout=120, capture_output=True, text=True)
    assert run.returncode == 0, run.stderr


INELIGIBLE = {
    "spark-submit": lambda mp, conf, tmp: mp.setenv("PYSPARK_GATEWAY_PORT", "1"),
    "live gateway": lambda mp, conf, tmp: mp.setattr(SparkContext, "_gateway", object()),
    "extraClassPath": lambda mp, conf, tmp: conf.update(
        {"spark.driver.extraClassPath": str(tmp)}),
    "submit args": lambda mp, conf, tmp: mp.setenv(
        "PYSPARK_SUBMIT_ARGS", "--driver-class-path x pyspark-shell"),
    "hadoop conf": lambda mp, conf, tmp: mp.setenv("HADOOP_CONF_DIR", str(tmp)),
    "settings file": lambda mp, conf, tmp: (
        Path(os.environ["SPARK_CONF_DIR"]) / "log4j2.properties").write_text(""),
    "no conf dir": lambda mp, conf, tmp: mp.setenv("SPARK_CONF_DIR", str(tmp / "none")),
    "unwritable cache": lambda mp, conf, tmp: mp.setenv(
        "XDG_CACHE_HOME", str(_dump(tmp / "a-file", b""))),
}


@pytest.mark.parametrize("case", sorted(INELIGIBLE))
def test_ineligible_launch_gets_no_archive(tmp_path, monkeypatch, case):
    """Each condition alone turns the archive off, from an eligible
    start; ``get_spark`` then launches exactly as without it."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    for var in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", "HADOOP_CONF_DIR",
                "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(_conf_dir(tmp_path / "conf", "x.template")))
    conf: dict[str, str] = {}
    assert session._archive_path(conf) is not None
    INELIGIBLE[case](monkeypatch, conf, tmp_path)
    assert session._archive_path(conf) is None


class _FakeProc:
    def __init__(self, code: int):
        self.stdin = io.BytesIO()
        self.code = code

    def wait(self) -> int:
        return self.code


def _dump(path: Path, head: bytes) -> Path:
    path.write_bytes(head + b"\0" * 60)
    return path


@pytest.mark.parametrize("code, head", [
    (1, MAGIC.to_bytes(4, sys.byteorder)),
    (0, b"\x7fELF"),
])
def test_failed_or_foreign_dump_is_not_published(tmp_path, monkeypatch, code, head):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    jsa = tmp_path / "key.jsa"
    tmp = _dump(tmp_path / f"key.jsa.{os.getpid()}.tmp", head)
    proc = _FakeProc(code)
    session._publish_archive(proc, str(tmp), str(jsa))
    assert proc.stdin.closed
    assert list(tmp_path.iterdir()) == []


def test_publish_replaces_stale_files(tmp_path, monkeypatch):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    old = _dump(tmp_path / "old.jsa", b"old!")
    dead = _dump(tmp_path / f"old.jsa.{gone.pid}.tmp", b"dead")
    live = _dump(tmp_path / f"key.jsa.{os.getppid()}.tmp", b"live")
    tmp = _dump(tmp_path / f"key.jsa.{os.getpid()}.tmp",
                MAGIC.to_bytes(4, sys.byteorder))
    session._publish_archive(_FakeProc(0), str(tmp), str(tmp_path / "key.jsa"))
    assert not old.exists() and not dead.exists() and not tmp.exists()
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(["key.jsa", live.name])


def test_spark_submit_keeps_its_master_and_gets_no_archive(tmp_path):
    """A driver that spark-submit started: ``get_spark`` keeps
    ``--master`` and adds no launch option (its JVM already runs), but
    loads the fork-free local file system into it."""
    script = tmp_path / "s.py"
    script.write_text(PROBE)
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache"),
           "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable}
    run = subprocess.run([os.path.join(_find_spark_home(), "bin", "spark-submit"),
                          "--master", "local[2]", "--driver-memory", "1g",
                          str(script), str(REPO)],
                         env=env, cwd=tmp_path, timeout=600, capture_output=True, text=True)
    assert run.returncode == 0, run.stderr[-4000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out["master"] == "local[2]"
    assert not any("Archive" in a for a in out["args"])
    assert out["raw_fs"] == RAW_FS
    assert not (tmp_path / "cache" / "spark_kafka_airflow_pipeline_spark" / "cds").exists()
