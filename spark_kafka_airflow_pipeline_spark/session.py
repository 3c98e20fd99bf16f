"""SparkSession factory tuned for both local testing and cluster scale.

The reference builds a bare session with zero configuration
(``PipelineApp.scala:16-19``). At 100 TB that is not enough, so the
engine pins a scale-aware posture:

- **AQE on** (coalesce partitions, skew-join splitting, runtime
  re-planning) so shuffle partition counts adapt to real data sizes.
- **Broadcast threshold raised** so dimension tables in star joins
  (region/nation/supplier/part at any SF) broadcast instead of shuffling
  the fact table.
- **UTC session timezone** so timestamp semantics are stable across
  driver/executor locales (and match the DuckDB oracle).
- **Arrow enabled** for any pandas interchange (pandas UDFs, toPandas).

``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
coalesces down after each exchange. On a real cluster set it to
~2-3x total cores via ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.

Conf policy: this module is the one place in the package that writes
session confs (a source scan in ``tests/test_session_confs.py`` keeps
it so; the only exception is the Python-datasource pushdown flag that
``io.pydatasource.register`` turns on at registration time).

- **Session-wide: the table-read confs** (``TABLE_CONFS``). Every read
  of the parquet tables needs them, under ours or a caller-built
  session, so ``get_spark`` sets them at build time and
  ``pin_table_confs`` writes them once per SparkSession object on its
  first read. They are never restored: a later read needs them again.
- **Scoped: everything a single query tunes for itself**, written with
  ``scoped_conf`` and restored when the query has materialized. That
  is the state-partition pin of the streaming drains
  (``streaming.pipelines``), the runtime bloom-filter thresholds of
  ``scaleops.bloom_filter_join`` and SQL scripting in
  ``relational_extra.sql_api_scripting``.

JVM launch: this module is also the one place that sets the driver
JVM's launch options. When ``get_spark`` itself launches the JVM (no
``PYSPARK_GATEWAY_PORT`` from spark-submit, no live gateway), the JVM
starts from a dynamic class-data-sharing archive (JEP 350) of the
classes Spark loads. That about halves the time to the first job:
perfbench's ``setup_s`` medians went 9.4 → 5.7 s on ``etl_stream`` and
8.9 → 4.5 s on ``catalog_noop`` (4-core host).

- **Where.** ``${XDG_CACHE_HOME:-~/.cache}/spark_kafka_airflow_pipeline_spark/cds/<key>.jsa``,
  134-213 MB by what the building run loaded. The key hashes stat data
  only: the ``java`` binary the launcher runs, its ``lib/modules`` and
  every jar in ``$SPARK_HOME/jars``. Deleting the directory resets the
  cache.
- **First launch.** The launch for a new key builds the archive. It is
  about 4 s slower, and at interpreter exit it waits about 10 s while
  the JVM writes the archive. The dump is published (renamed into
  place) only if the JVM exited 0 and the file is a dynamic archive, so
  no partial file is ever mapped.
- **When it applies.** The JDK will neither write nor map an archive
  with a non-empty directory on the class path. So it applies only
  when ``spark.driver.extraClassPath``, ``HADOOP_CONF_DIR``,
  ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH`` and
  ``PYSPARK_SUBMIT_ARGS`` are unset and the conf dir
  (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) holds only
  ``*.template`` files, which Spark never reads. The launch then points
  ``SPARK_CONF_DIR`` at an empty directory beside the archive.
  Otherwise, or when the cache cannot be written, the JVM launches as
  it would without this module.
- **Options.** The archive flags go after the caller's own
  ``spark.driver.extraJavaOptions``. The JVM runs under the default
  ``-Xshare:auto``, so an archive that does not match is ignored.

Local files: without ``libhadoop``, which the pyspark wheel does not
ship, Hadoop's local file system forks a process for two calls.
``RawLocalFileSystem.setPermission`` runs ``chmod`` for every file and
directory it creates, and ``getFileLinkStatus``, which every
``FileContext`` rename calls, runs ``readlink``. A warm ``etl_stream``
pass forked 184 of them, for sink files, ``_SUCCESS`` markers, sink
ledger markers and the streaming checkpoint's logs.

- **What.** ``jvm/ForkFreeLocalFileSystem.java`` subclasses the stock
  classes, for both the ``FileSystem`` and the ``FileContext`` API
  (``LOCAL_FS_CONFS``). It sets a mode within ``0777`` through
  ``java.nio`` and answers for a path that is no symbolic link without
  ``readlink``; the sticky bit, symbolic links, ``.crc`` files and
  every other call are the stock classes'.
- **When it applies.** The master is ``local`` or ``local[...]``, also
  when spark-submit set it, and no conf names a class for either key.
  Executors of other masters run in JVMs that lack the classes.
- **How.** ``get_spark`` brings the JVM up (its own launch, or
  spark-submit's) before the context. Janino, which Spark ships,
  compiles the source in that JVM, and the class files are published by
  renaming into
  ``${XDG_CACHE_HOME:-~/.cache}/spark_kafka_airflow_pipeline_spark/classes/<key>/``.
  The key hashes the source and the archive key. The directory is then
  added to the JVM thread's context class loader, so the launch class
  path, and with it the archive, does not change. Deleting the
  directory resets the cache; old keys are left, as a running JVM may
  still load from them. If the source does not compile, the session
  gets the stock classes.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import sys
from collections.abc import Iterator, Mapping
from contextlib import contextmanager, suppress

from py4j.protocol import Py4JError
from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: The table-read confs. The events table stores TIMESTAMP(NANOS),
#: which the parquet reader rejects unless nanos are read as long (the
#: readers convert them back). Parquet timestamps without
#: isAdjustedToUTC would load as TIMESTAMP_NTZ, which withWatermark and
#: numeric casts reject. Timestamps are compared as formatted wall-clock
#: strings against a timezone-naive DuckDB oracle, so the session time
#: zone is UTC.
TABLE_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}

#: The Hadoop confs that map ``file:`` to the fork-free local file system
#: (``jvm/ForkFreeLocalFileSystem.java``, "Local files" above).
LOCAL_FS_CONFS = {
    "spark.hadoop.fs.file.impl": "spark_kafka_airflow_pipeline_spark.jvm.ForkFreeLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl":
        "spark_kafka_airflow_pipeline_spark.jvm.ForkFreeLocalFileSystem$Fs",
}
_LOCAL_FS_SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "ForkFreeLocalFileSystem.java")


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _cache_dir(name: str) -> str:
    return os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                        "spark_kafka_airflow_pipeline_spark", name)


def _archive_key() -> str:
    """Hash of the stat data an archive is tied to: the ``java`` binary
    the launcher runs (``spark-class``'s rule) and its ``lib/modules``,
    and every jar of the Spark install. No subprocess runs."""
    bin_dir = os.path.join(os.environ["JAVA_HOME"], "bin") if os.environ.get("JAVA_HOME") else None
    java = os.path.realpath(shutil.which("java", path=bin_dir) or "java")  # None: $PATH
    jars = os.path.join(_find_spark_home(), "jars")
    paths = [java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules"),
             *sorted(os.path.join(jars, n) for n in os.listdir(jars) if n.endswith(".jar"))]
    stats = [(p, s.st_size, s.st_mtime_ns) for p in paths for s in [os.stat(p)]]
    return hashlib.sha256(repr(stats).encode()).hexdigest()[:24]


def _archive_path(conf: Mapping[str, str]) -> str | None:
    """The archive for a JVM that this call launches, or None when the
    launch must not use one (see "JVM launch" above)."""
    cache = _cache_dir("cds")
    try:  # a missing conf dir or an unwritable cache raises OSError
        if ("PYSPARK_GATEWAY_PORT" in os.environ or SparkContext._gateway
                or "spark.driver.extraClassPath" in conf
                # besides the conf dir, what the launcher puts on the class path
                or any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                                   "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS"))
                or not all(n.endswith(".template") for n in os.listdir(
                    os.environ.get("SPARK_CONF_DIR") or f"{_find_spark_home()}/conf"))):
            return None
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        writable = os.access(cache, os.W_OK)
        return os.path.join(cache, _archive_key() + ".jsa") if writable else None
    except OSError:
        return None


@contextmanager
def _class_archive(conf: dict[str, str]) -> Iterator[None]:
    """Launch the driver JVM of the body from the class-data archive:
    add its flags to ``conf`` and point ``SPARK_CONF_DIR`` at the empty
    ``conf`` beside it for the body. On a miss the JVM dumps the archive
    at exit, and ``_publish_archive`` runs at interpreter exit."""
    jsa = _archive_path(conf)
    if jsa is None:
        yield
        return
    tmp = None if os.path.isfile(jsa) else f"{jsa}.{os.getpid()}.tmp"
    flag = f"-XX:ArchiveClassesAtExit={tmp}" if tmp else f"-XX:SharedArchiveFile={jsa}"
    key = "spark.driver.extraJavaOptions"
    # the JVM's class-data-sharing log lines would land on the driver's stdout
    conf[key] = f"{conf.get(key, '')} {flag} -Xlog:cds=off -Xlog:cds+dynamic=off".strip()
    saved = {k: v for k, v in os.environ.items() if k == "SPARK_CONF_DIR"}
    os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(jsa), "conf")
    try:
        yield
    finally:
        del os.environ["SPARK_CONF_DIR"]
        os.environ.update(saved)
    if tmp:
        atexit.register(_publish_archive, SparkContext._gateway.proc, tmp, jsa)


def _publish_archive(proc, tmp: str, jsa: str) -> None:  # noqa: ANN001
    """Stop Spark, let the JVM ``proc`` exit and write its dump to
    ``tmp``, then move the dump onto ``jsa`` if the JVM exited 0 and the
    file is a dynamic archive; else delete it. A published archive
    replaces every other one, and the dumps of processes that are gone
    are deleted (their pid is the second-last dot field; the check reads
    ``/proc``, so elsewhere every other dump counts as gone, which only
    costs a concurrent first launch its archive)."""
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc.stdin.close()
    code = proc.wait()
    try:  # a whole dump starts with the JDK's CDS_DYNAMIC_ARCHIVE_MAGIC
        with open(tmp, "rb") as f:
            whole = code == 0 and f.read(4) == (0xF00BABA8).to_bytes(4, sys.byteorder)
    except OSError:  # the JVM wrote no dump
        return
    if not whole:
        os.remove(tmp)
        return
    os.replace(tmp, jsa)
    for name in os.listdir(os.path.dirname(jsa)):
        if (name.endswith(".jsa") and name != os.path.basename(jsa)
                or name.endswith(".tmp") and not os.path.exists(f"/proc/{name.split('.')[-2]}")):
            with suppress(OSError):
                os.remove(os.path.join(os.path.dirname(jsa), name))


def _local_fs_classes() -> str | None:
    """The directory of the compiled local file system classes. On a
    miss, Janino compiles the source in the running JVM into a temporary
    directory, which is then renamed into place. None if the source does
    not compile or the cache cannot be written."""
    try:
        with open(_LOCAL_FS_SOURCE, "rb") as f:
            key = hashlib.sha256(f.read() + _archive_key().encode()).hexdigest()[:24]
    except OSError:
        return None
    out = _cache_dir(os.path.join("classes", key))
    tmp = f"{out}.{os.getpid()}.tmp"
    file = getattr(SparkContext._jvm, "java.io.File")
    try:
        if not os.path.isdir(out):
            compiler = getattr(SparkContext._jvm, "org.codehaus.janino.CompilerFactory")().newCompiler()
            compiler.setDestinationDirectory(file(tmp), True)
            sources = SparkContext._gateway.new_array(file, 1)
            sources[0] = file(_LOCAL_FS_SOURCE)
            compiler.compile(sources)
            os.rename(tmp, out)
    except (OSError, Py4JError):  # also when a concurrent launch published first
        shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


def _local_fs_confs(conf: Mapping[str, str]) -> dict[str, str]:
    """``LOCAL_FS_CONFS`` with their classes loaded into the JVM thread's
    context class loader, or nothing where they do not apply (see
    "Local files" above). Called with the gateway up."""
    jvm = SparkContext._jvm
    prop = getattr(jvm, "java.lang.System").getProperty  # spark-submit's confs
    master, *named = (conf.get(k) or prop(k) for k in ("spark.master", *LOCAL_FS_CONFS))
    if SparkContext._active_spark_context or any(named) or (master or "").split("[")[0] != "local":
        return {}
    classes = _local_fs_classes()
    try:
        if classes:
            getattr(jvm, "java.lang.Thread").currentThread().getContextClassLoader().addURL(
                getattr(jvm, "java.io.File")(classes).toURI().toURL())
            return dict(LOCAL_FS_CONFS)
    except Py4JError:  # a context class loader without addURL
        pass
    return {}


def get_spark(app_name: str = "spark-kafka-airflow-pipeline-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession. The master is
    ``master``, else ``$SPARK_GRAFT_MASTER``, else spark-submit's when
    spark-submit started the driver, else ``local[<cpus>]``."""
    cpus = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        None if "PYSPARK_GATEWAY_PORT" in os.environ else f"local[{cpus}]")
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))

    conf = {
        "spark.app.name": app_name,
        # --- adaptive execution: runtime stats beat static planning ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing (pre-AQE bound) ---
        "spark.sql.shuffle.partitions": shuffle_parts,
        "spark.default.parallelism": str(cpus),
        # --- star-schema joins: broadcast every dimension that fits ---
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # --- Arrow for all Python<->JVM batch interchange ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # --- scan sizing: 128m splits keep 100TB scans at ~800k tasks ---
        "spark.sql.files.maxPartitionBytes": "134217728",
        # --- codegen cache: keyed by class loader and code, in 4 LRU
        #     segments. At the default 100 entries (25 a segment) the 66
        #     of the 3 catalog_noop queries can overflow one segment, by
        #     the loaders' identity hashes, and then every warm pass
        #     recompiles 3-8 classes ---
        "spark.sql.codegen.cache.maxEntries": "400",
        # --- straggler mitigation: re-launch tasks stuck on a slow /
        #     descheduled core (matters on contended hosts AND at
        #     1000-executor scale) ---
        "spark.speculation": "true",
        "spark.speculation.multiplier": "3",
        "spark.speculation.quantile": "0.9",
        # --- quieter local runs ---
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # --- the master, the table-read confs (matches DuckDB oracle),
        #     then the caller's ---
        **({"spark.master": master} if master else {}), **TABLE_CONFS, **(extra_conf or {}),
    }
    with _class_archive(conf):
        # the JVM runs (launched here, or spark-submit's) before the
        # context exists, so the local file system classes can be loaded
        SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
        conf.update(_local_fs_confs(conf))
        spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_table_confs(spark: SparkSession) -> None:
    """Write ``TABLE_CONFS`` into ``spark``, once per session object.
    Every table reader calls this before it reads, so a caller-built
    session gets the confs on its first read and later reads write
    nothing."""
    if getattr(spark, "_table_confs_pinned", False):
        return
    for k, v in TABLE_CONFS.items():
        spark.conf.set(k, v)
    # a mark on the object itself: it goes when the session goes, and a
    # new session object (``newSession()``, a caller's own) has none
    spark._table_confs_pinned = True


@contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body of the ``with`` block. On exit, also
    when the body raises, every key gets its previous value back, and a
    key that was unset before is unset again. A frame built in the body
    plans under the confs only if it is materialized there."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
