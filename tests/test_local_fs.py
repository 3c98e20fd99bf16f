"""The fork-free local file system (``session`` "Local files"): the
paper's ETL path starts no process, and every file, ``.crc`` name, mode
and link status is what Hadoop's stock local file system gives."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

from spark_kafka_airflow_pipeline_spark import PipelineExecutor, load_metadata, session

REPO = Path(__file__).resolve().parent.parent
OURS = "spark_kafka_airflow_pipeline_spark.jvm.ForkFreeLocalFileSystem"
STOCK = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
         "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs"}

WRITER = """
import json, os, re, sys
sys.path.insert(0, sys.argv[1])
from spark_kafka_airflow_pipeline_spark.session import get_spark
out = sys.argv[2]
spark = get_spark(extra_conf=json.loads(sys.argv[3]))
df = spark.range(20).selectExpr("id", "cast(id as string) s").repartition(2)
df.write.parquet(f"{out}/parquet")
df.write.json(f"{out}/json")
spark.readStream.schema("id long, s string").json(f"{out}/json").writeStream \\
    .format("parquet").option("checkpointLocation", f"{out}/stream.checkpoint") \\
    .trigger(availableNow=True).start(f"{out}/stream").awaitTermination()
uuid = re.compile("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")
print(json.dumps({
    "raw": spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()).getRawFileSystem().getClass().getName(),
    "entries": sorted((uuid.sub("<uuid>", os.path.relpath(os.path.join(root, n), out)),
                       oct(os.stat(os.path.join(root, n)).st_mode))
                      for root, dirs, files in os.walk(out) for n in dirs + files),
}))
"""


def _write(out: Path, conf: dict[str, str]) -> dict:
    """Write one parquet, one JSON and one streaming parquet sink into
    ``out`` from a new driver with ``conf``, under umask 027."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "PYSPARK_SUBMIT_ARGS")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run([sys.executable, "-c", WRITER, str(REPO), str(out), json.dumps(conf)],
                         env=env, cwd=out.parent, timeout=600, capture_output=True, text=True,
                         preexec_fn=lambda: os.umask(0o027))
    assert run.returncode == 0, run.stderr[-4000:]
    return json.loads(run.stdout.strip().splitlines()[-1])


def test_sinks_write_what_the_stock_file_system_writes(tmp_path):
    """Same files, ``.crc`` names and modes as the stock classes, which a
    caller who names them in ``extra_conf`` gets."""
    ours, stock = _write(tmp_path / "ours", {}), _write(tmp_path / "stock", STOCK)
    assert ours["raw"] == f"{OURS}$Raw"
    assert stock["raw"] == "org.apache.hadoop.fs.RawLocalFileSystem"
    names = [name for name, _ in ours["entries"]]
    assert {"parquet/._SUCCESS.crc", "json/_SUCCESS", "stream.checkpoint/commits/.0.crc",
            "stream/_spark_metadata/0"} <= set(names)
    assert ours["entries"] == stock["entries"]


def _copy(name: str, out: Path) -> str:
    """``examples/<name>`` with an absolute source path and every sink
    under ``out``."""
    spec = json.loads((REPO / "examples" / name).read_text())
    [flow] = spec["dataflows"]
    for source in flow["sources"]:
        source["path"] = str(REPO / source["path"])
    for sink in flow["sinks"]:
        sink["paths"] = [str(out / sink["name"])]
    path = out / name
    path.write_text(json.dumps(spec))
    return str(path)


def test_etl_path_forks_no_process(spark, tmp_path):
    """A JFR recording of the batch and the streaming person pipeline
    holds no process start from Hadoop's ``Shell`` (``chmod`` and
    ``readlink`` on the stock local file system)."""
    jvm = spark._jvm
    recording = getattr(jvm, "jdk.jfr.Recording")()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    try:
        for name in ("person_pipeline.json", "person_pipeline_streaming.json"):
            (tmp_path / name).with_suffix("").mkdir()
            PipelineExecutor(spark).process(
                load_metadata(_copy(name, (tmp_path / name).with_suffix(""))))
    finally:
        recording.stop()
    dump = jvm.java.io.File(str(tmp_path / "etl.jfr")).toPath()
    recording.dump(dump)
    recording.close()
    forks = [event.getString("command")
             for event in getattr(jvm, "jdk.jfr.consumer.RecordingFile").readAllEvents(dump)
             if any(frame.getMethod().getType().getName() == "org.apache.hadoop.util.Shell"
                    for frame in event.getStackTrace().getFrames())]
    assert forks == []
    ok = tmp_path / "person_pipeline_streaming" / "raw-ok" / "raw-ok"
    assert spark.read.parquet(str(ok)).count() == 1


@pytest.fixture()
def both(spark):
    """The session's raw local file system and a stock one."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    ours = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getRawFileSystem()
    assert ours.getClass().getName() == f"{OURS}$Raw"
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), hconf)
    return jvm, ours, stock


def _link_status(fs, path) -> str:  # noqa: ANN001
    try:
        return str(fs.getFileLinkStatus(path))
    except Py4JJavaError as e:
        return str(e.java_exception)


def test_link_status_matches_stock(both, tmp_path):
    """Status or exception, by plain path and by ``file:`` URI (which
    stock's ``readlink`` never resolves, so it follows the link)."""
    jvm, ours, stock = both
    (tmp_path / "file").write_text("x")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    (tmp_path / "dangling").symlink_to(tmp_path / "gone")
    for name in ("file", "dir", "link", "dangling", "missing"):
        for form in (str(tmp_path / name), (tmp_path / name).as_uri()):
            path = jvm.org.apache.hadoop.fs.Path(form)
            assert _link_status(ours, path) == _link_status(stock, path), form
    plain = {name: _link_status(ours, jvm.org.apache.hadoop.fs.Path(str(tmp_path / name)))
             for name in ("link", "dangling", "missing")}
    assert "isSymlink=true" in plain["link"] and "isSymlink=true" in plain["dangling"]
    assert plain["missing"].startswith("java.io.FileNotFoundException")


@pytest.mark.parametrize("mode", ["1777", "640"])
def test_set_permission_matches_stock(both, tmp_path, mode):
    """A mode within 0777 is set in process; the sticky bit goes to the
    stock ``chmod``. Either way the mode is stock's."""
    jvm, ours, stock = both
    modes = []
    for fs, name in ((ours, "ours"), (stock, "stock")):
        target = tmp_path / name
        target.mkdir() if mode == "1777" else target.write_text("x")
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        modes.append(stat.S_IMODE(target.stat().st_mode))
    assert modes == [int(mode, 8)] * 2


@pytest.mark.parametrize("conf, applies", [
    ({"spark.master": "local[2]"}, True),
    ({"spark.master": "local"}, True),
    ({"spark.master": "local-cluster[1,1,1024]"}, False),
    ({"spark.master": "spark://host:7077"}, False),
    *(({"spark.master": "local[2]", key: cls}, False) for key, cls in STOCK.items()),
])
def test_only_local_masters_without_a_caller_class_get_it(spark, monkeypatch, conf, applies):
    """Executors of a non-local master run in other JVMs, which lack the
    classes; a caller's own class for either key wins."""
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert session._local_fs_confs(conf) == (session.LOCAL_FS_CONFS if applies else {})


def test_classes_are_published_once_and_a_failed_compile_falls_back(spark, tmp_path,
                                                                    monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    classes = Path(session._local_fs_classes())
    assert classes.parent == tmp_path / "cache" / "spark_kafka_airflow_pipeline_spark" / "classes"
    assert sorted(p.name for p in classes.rglob("*.class")) == [
        "ForkFreeLocalFileSystem$Fs$1.class", "ForkFreeLocalFileSystem$Fs.class",
        "ForkFreeLocalFileSystem$Raw.class", "ForkFreeLocalFileSystem.class"]
    assert session._local_fs_classes() == str(classes)
    assert list(classes.parent.iterdir()) == [classes]

    broken = tmp_path / "Broken.java"
    broken.write_text("class Broken { int f() { return missing; } }")
    monkeypatch.setattr(session, "_LOCAL_FS_SOURCE", str(broken))
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert session._local_fs_classes() is None
    assert session._local_fs_confs({"spark.master": "local[2]"}) == {}
    assert list(classes.parent.iterdir()) == [classes]
