"""One materialization barrier (``operators.base.barrier``): no other
package code checkpoints, persists or caches a frame, and no catalog
query leaves a CacheManager entry behind."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = (pathlib.Path(__file__).resolve().parent.parent
           / "spark_kafka_airflow_pipeline_spark")

#: The queries that used to leave a cached frame behind: the bloom join
#: and the unigram LM persisted their results, and every query built on
#: ``scaleops.global_row_number``/``global_running_sum`` persisted the
#: range-partitioned scan.
FORMERLY_PINNING = (
    "bloom_filter_join",
    "customer_global_rank", "customer_pareto_abc", "customer_rfm_segments",
    "systematic_sample_every_k",
    "fellegi_sunter_weights", "sorted_neighborhood_pairs",
    "gini_lorenz_customers", "score_auc_acctbal", "score_lift_gain_deciles",
    "multimodal_shard_plan",
    "unigram_lm_quality",
)


def _materializations(path: pathlib.Path):
    """(innermost enclosing function, method) of every
    ``<x>.localCheckpoint(...)`` / ``.persist(...)`` / ``.cache(...)``
    call in ``path``."""
    calls = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "persist", "cache")):
            calls.append((fn, node.func.attr))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text()), "<module>")
    return calls


def test_one_materialization_call_site():
    """Pure source scan: ``base.barrier`` is the one checkpoint call,
    and the executor's ok/ko split is the one cache."""
    found = sorted((path.relative_to(PACKAGE).as_posix(), *call)
                   for path in PACKAGE.rglob("*.py")
                   for call in _materializations(path))
    assert found == [
        ("operators/base.py", "barrier", "localCheckpoint"),
        ("transforms/validate_fields.py", "validate_fields_split", "cache"),
    ]


def test_no_query_pins_a_cache_entry(spark, sf_dir):
    """Each formerly pinning query, written in full to the ``noop``
    sink, leaves the CacheManager empty."""
    import __spark_entry__ as entry

    queries = entry.queries()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # entries other tests left behind
    pinned = []
    for name in FORMERLY_PINNING:
        queries[name](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        if not cache_manager.isEmpty():
            pinned.append(name)
            spark.catalog.clearCache()
    assert pinned == []
