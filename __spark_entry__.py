"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship star-schema query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle (rows-only entries omit the oracle).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from spark_kafka_airflow_pipeline_spark.operators import (  # noqa: E402
    corpusops,
    dedup,
    evalops,
    events,
    graphops,
    joins_extra,
    lakeops,
    multimodal,
    pipelineops,
    relational,
    relational_extra,
    scaleops,
    similarity,
    textops,
    tpch_extra,
    warehouse,
)
from spark_kafka_airflow_pipeline_spark.streaming import pipelines as streaming  # noqa: E402

# Ordered newest/least-stable FIRST: the driver's CORRECTNESS file holds
# the first 50 queries() entries, so the modules whose internals changed
# most recently must land inside that window; the relational family has
# been driver-green since round 1-2 and sits at the tail (VERDICT.md r2,
# "What's wrong #1").
_MODULES = (evalops, lakeops, corpusops, graphops, streaming, dedup,
            similarity, multimodal, textops, scaleops, warehouse,
            pipelineops, events, joins_extra, tpch_extra, relational_extra,
            relational)

# The 50 queries pinned to the FRONT of the driver's correctness window
# (the driver records only the first 50 queries() entries). The window
# is not hand-curated: it is the first 50 names of the rotation queue
# that `python scripts/rotate_window.py` printed at rotation time, and
# `--apply` writes exactly that slice here. The queue is computed, never
# stored: every queries() name that is neither in this window nor
# exempt, oldest latest driver row (union of CORRECTNESS_r*.json) first,
# never-driver-seen names ahead of all, name as the tiebreak.
#
# REFRESH SLA, by arithmetic: the rotating pool is len(queries()) minus
# the pinned-once exemptions (331 names) over 50 slots per round, so
# every oracled query's latest driver row is at most ceil(331/50) = 7
# rounds old. tests/test_round5_late_ops.py::
# test_refresh_sla_matches_pool_arithmetic pins ceil(pool/50) ==
# _REFRESH_SLA_ROUNDS, so pool growth past 350 forces an explicit SLA
# restatement instead of a silent breach.
# PINNED-ONCE exemptions (`rotate_window.EXEMPT`; slots never re-burned
# on known `no_oracle` rows):
#   - embedding_principal_component (rows-only): float-accumulation
#     micro-digits have no DuckDB twin; correctness is property-tested
#     against numpy.linalg.eigh (tests/test_corpusops.py).
#   - parquet_footer_stats (rows-only): its oracle cannot be the
#     fixed-SQL kind — the query reads file-level footer metadata, and
#     file paths can't parameterize the driver's fixed oracle string;
#     its semantics are pinned against DuckDB parquet_metadata() in
#     pytest (tests/test_formats_and_approx.py), which is the real
#     evidence.
#   - approx_distinct_customers (rows-only): HLL++ estimates have no
#     exact-SQL twin BY DESIGN; the 2x-rsd accuracy envelope is asserted
#     against the exact count at all three SFs in
#     tests/test_formats_and_approx.py::test_approx_distinct_within_rsd.
# Module order above ranks everything not listed.
_WINDOW_PRIORITY = (
    "doc_token_stats",
    "doc_word_runs_udtf",
    "dpp_partitioned_join",
    "embedding_int8_quant_error",
    "embedding_near_dups",
    "embedding_norm_stats",
    "events_variant_extract",
    "hll_distinct_rollup",
    "incremental_dedup_minhash",
    "ivf_ann_topk",
    "kmeans_clusters",
    "label_centroid_similarity",
    "lang_quality_profile",
    "minhash_lsh_pairs",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_header_parse",
    "multimodal_resize",
    "ngram_jaccard_dups",
    "pq_ann_topk",
    "recursive_month_spine",
    "simhash_buckets",
    "simhash_near_dups",
    "stratified_sample",
    "streaming_dedup_keys",
    "streaming_sliding_window",
    "streaming_stateful_sessions",
    "streaming_static_join",
    "streaming_stream_stream_join",
    "streaming_tumbling_window",
    "word_freq_topk",
    "ann_recall_report",
    "asof_cogroup_pandas",
    "bm25_topk",
    "bpe_merge_apply",
    "bpe_merge_candidates",
    "cdc_chunking",
    "collated_type_counts",
    "corpus_prep_pipeline",
    "cross_doc_span_dups",
    "dedup_clusters_md5",
    "doc_dup_scores",
    "doc_source_arrow_stats",
    "embedding_dup_clusters",
    "event_transition_matrix",
    "events_drift_chi2",
    "events_funnel_conversion",
    "events_monthly_from_rollup",
    "events_retention_cohorts",
    "events_zscore_outliers",
)

#: The declared refresh SLA (rounds between driver re-proofs of any
#: oracled query), pinned to the pool arithmetic by
#: tests/test_round5_late_ops.py — see the window note above.
_REFRESH_SLA_ROUNDS = 7


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by nation —
    lineitem x orders x customer x nation x region star join with
    broadcast dims, filter, group-agg (SURVEY.md §7)."""
    return relational.q5_revenue_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise RuntimeError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)
    missing = [n for n in _WINDOW_PRIORITY if n not in merged]
    if missing:
        raise RuntimeError(f"_WINDOW_PRIORITY names unknown: {missing}")
    front = {n: merged[n] for n in _WINDOW_PRIORITY}
    front.update((n, q) for n, q in merged.items() if n not in front)
    return front


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle for each SQL-expressible query (rows-only ops —
    MinHash/SimHash dedup, LSH ANN, session windows — are omitted, per
    the driver contract)."""
    merged: dict[str, str] = {}
    for mod in _MODULES:
        merged.update(mod.ORACLES)
    return merged
