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
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

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


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "spark-kafka-airflow-pipeline-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime stats beat static planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing (pre-AQE bound) ---
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.default.parallelism", str(cpus))
        # --- star-schema joins: broadcast every dimension that fits ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- Arrow for all Python<->JVM batch interchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- scan sizing: 128m splits keep 100TB scans at ~800k tasks ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- straggler mitigation: re-launch tasks stuck on a slow /
        #     descheduled core (matters on contended hosts AND at
        #     1000-executor scale) ---
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "3")
        .config("spark.speculation.quantile", "0.9")
        # --- quieter local runs ---
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # --- the table-read confs (matches DuckDB oracle), then the caller's ---
    for k, v in {**TABLE_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
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
