"""Session confs and the driver JVM's launch options have one owner
(``session.py``): table reads pin the table-read confs once per
session, and every other conf write is scoped and restored."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql.conf import RuntimeConfig

from spark_kafka_airflow_pipeline_spark.operators.base import table
from spark_kafka_airflow_pipeline_spark.session import TABLE_CONFS, scoped_conf

PACKAGE = (pathlib.Path(__file__).resolve().parent.parent
           / "spark_kafka_airflow_pipeline_spark")


def _conf_writes(path: pathlib.Path):
    """(innermost enclosing function, method, first argument source) of
    every ``<x>.conf.set(...)`` / ``<x>.conf.unset(...)`` call in
    ``path``."""
    writes = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"):
            arg = ast.unparse(node.args[0]) if node.args else ""
            writes.append((fn, node.func.attr, arg))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text()), "<module>")
    return writes


def test_only_session_module_writes_confs():
    """Pure source scan: outside ``session.py`` the package writes no
    session conf, except the Python-datasource pushdown flag that
    ``io/pydatasource.register`` turns on at registration time."""
    allowed = {("io/pydatasource.py", "register", "set",
                "'spark.sql.python.filterPushdown.enabled'")}
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "session.py":
            continue
        found |= {(rel, *w) for w in _conf_writes(path)}
    assert found == allowed


def test_only_session_module_sets_launch_options():
    """Pure source scan: no package module but ``session.py`` mentions
    the driver JVM's launch options, the environment the launcher
    reads them from, the local file system class or the class loader
    that loads it."""
    terms = ("extraJavaOptions", "SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "fs.file.impl", "addURL")
    found = {(path.relative_to(PACKAGE).as_posix(), term)
             for path in sorted(PACKAGE.rglob("*.py"))
             for term in terms if term in path.read_text()}
    assert found == {("session.py", term) for term in terms}


def test_scoped_conf_restores_set_and_unset_keys(spark):
    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    confs = {set_key: "3", unset_key: "1MB"}
    with scoped_conf(spark, confs):
        assert {k: spark.conf.get(k) for k in confs} == confs
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, confs):
            raise RuntimeError("body failed")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


@pytest.fixture()
def conf_writes(monkeypatch):
    """Every ``RuntimeConfig.set`` / ``unset`` call, as (key, value)."""
    calls: list[tuple[str, str | None]] = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def counting_set(self, key, value):  # noqa: ANN001
        calls.append((key, value))
        return real_set(self, key, value)

    def counting_unset(self, key):  # noqa: ANN001
        calls.append((key, None))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", counting_set)
    monkeypatch.setattr(RuntimeConfig, "unset", counting_unset)
    return calls


def test_table_pins_confs_once_per_session(spark, sf_dir, conf_writes):
    table(spark, sf_dir, "orders")
    conf_writes.clear()
    table(spark, sf_dir, "orders")
    assert conf_writes == []

    # a fresh session object with the confs pointing the wrong way
    other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    conf_writes.clear()
    events = table(other, sf_dir, "events")
    assert conf_writes == list(TABLE_CONFS.items())
    assert {k: other.conf.get(k) for k in TABLE_CONFS} == TABLE_CONFS
    assert dict(events.dtypes)["ts"] == "timestamp"
    conf_writes.clear()
    table(other, sf_dir, "events")
    assert conf_writes == []


def test_queries_leave_session_confs_unchanged(spark, sf_dir):
    """The conf-scoping queries restore what they set: afterwards the
    session's SET listing differs at most in the table-read confs."""
    from spark_kafka_airflow_pipeline_spark.operators import (
        relational_extra,
        scaleops,
    )
    from spark_kafka_airflow_pipeline_spark.streaming import pipelines

    def settings() -> dict[str, str]:
        return {r.key: r.value for r in spark.sql("SET").collect()
                if r.key not in TABLE_CONFS}

    before = settings()
    bloom = scaleops.bloom_filter_join(spark, sf_dir)
    assert bloom.collect()[0]["n_lines"] > 0
    # the script runs under its own scope even where scripting is off
    with scoped_conf(spark, {"spark.sql.scripting.enabled": "false"}):
        assert relational_extra.sql_api_scripting(spark, sf_dir).collect()
    for build in (pipelines.streaming_tumbling_window,
                  pipelines.metadata_streaming_tumbling,
                  pipelines.streaming_foreachbatch_upsert):
        assert build(spark, sf_dir).collect()
    assert settings() == before
