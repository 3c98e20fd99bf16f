"""The reference pipeline's own operator surface (validate split,
add_fields) exercised as oracle-able queries over the star schema —
this is how the engine proves parity with
``PipelineProcessor.scala:44-103`` on real data, not just the 3-row
fixture.

Rules applied to customer: ``c_mktsegment notEmpty``, ``c_acctbal
positive`` (the sf data has ~8% negative balances, so both splits are
non-trivial).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.metadata import AddField, Validation
from spark_kafka_airflow_pipeline_spark.operators.base import QueryFn, table
from spark_kafka_airflow_pipeline_spark.session import pin_table_confs
from spark_kafka_airflow_pipeline_spark.transforms import (
    ERROR_COLUMN,
    add_fields,
    validate_fields,
)

RULES = [Validation("c_mktsegment", ["notEmpty"]),
         Validation("c_acctbal", ["positive"])]


def validate_split_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    ok, _ = validate_fields(table(spark, sf_dir, "customer"), RULES)
    return ok.select("c_custkey", "c_name", "c_acctbal")


VALIDATE_OK_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE coalesce(c_mktsegment != '', false) AND coalesce(c_acctbal > 0, false)
"""


def validate_split_ko(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalid rows with their error codes (error array rendered as a
    comma-joined string so the oracle hash is array-free)."""
    _, ko = validate_fields(table(spark, sf_dir, "customer"), RULES)
    return ko.select("c_custkey", "c_acctbal",
                     F.array_join(ERROR_COLUMN, ",").alias("errors"))


VALIDATE_KO_SQL = """
SELECT c_custkey, c_acctbal,
       array_to_string(list_filter([
         CASE WHEN NOT coalesce(c_mktsegment != '', false)
              THEN 'c_mktsegment-notEmpty' END,
         CASE WHEN NOT coalesce(c_acctbal > 0, false)
              THEN 'c_acctbal-positive' END
       ], x -> x IS NOT NULL), ',') AS errors
FROM customer
WHERE NOT (coalesce(c_mktsegment != '', false) AND coalesce(c_acctbal > 0, false))
"""


def pipeline_add_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_fields through the real engine API: arbitrary SQL expression
    strings appended as columns (``expr(field.function)`` parity,
    ``PipelineProcessor.scala:99``)."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal")
    return add_fields(cust, [
        AddField("name_upper", "upper(c_name)"),
        AddField("balance_x2", "c_acctbal * 2"),
        AddField("tier", "CASE WHEN c_acctbal >= 5000 THEN 'gold' "
                         "WHEN c_acctbal >= 0 THEN 'silver' ELSE 'debt' END"),
    ])


ADD_FIELDS_SQL = """
SELECT c_custkey, c_name, c_acctbal,
       upper(c_name) AS name_upper,
       c_acctbal * 2 AS balance_x2,
       CASE WHEN c_acctbal >= 5000 THEN 'gold'
            WHEN c_acctbal >= 0 THEN 'silver' ELSE 'debt' END AS tier
FROM customer
"""


def kafka_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Kafka WIRE FORMAT proven lossless on real data:
    rows serialize to one JSON ``value`` column exactly as the Kafka
    sink does (``to_json(struct("*"))``,
    ``PipelineProcessor.scala:150``), parse back with ``from_json`` +
    the declared schema (the engine's streaming-consumer path,
    ``io.sources.parse_kafka_records``), and aggregate. The oracle
    aggregates the source table DIRECTLY — any loss or type drift in
    serialize->parse breaks the value hash. This is as far as the
    produce/consume path can be exercised without a broker in the
    environment (the connector API is wired in
    ``io.sinks``/``io.sources``).

    Hash-determinism note (r4/r5 driver reds): money crosses the wire
    as integer CENTS (``floor(price*100+0.5)`` BIGINT — the portable
    cent rule, same as ``streaming/pipelines.py``) and the date as a
    pre-rendered ``yyyy-MM-dd`` string, so no per-row double→DECIMAL
    cast whose tie-rounding can differ between the engines ever feeds
    the hashed SUM/MAX."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("price_cents"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd")
        .alias("o_orderdate"))
    from spark_kafka_airflow_pipeline_spark.io.sinks import serialize_for_kafka

    wire = serialize_for_kafka(o)
    schema = ("o_orderkey bigint, o_orderstatus string, "
              "price_cents bigint, o_orderdate string")
    parsed = (wire.select(F.from_json("value", schema).alias("r"))
              .select("r.*"))
    return (parsed.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("price_cents").alias("total_cents"),
                 F.max("o_orderdate").alias("latest_order")))


KAFKA_WIRE_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       MAX(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')) AS latest_order
FROM orders GROUP BY o_orderstatus
"""


def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a USER-DEFINED Python DataSource (Spark 4 DataSource V2
    Python API, `io/pydatasource.py`) through the normal
    ``spark.read.format(...)`` path and aggregate — the extension point
    for feeds without a built-in connector. The source's rows are a
    pure md5 function of the row index, so the result is value-hash
    oracled against DuckDB's ``range()`` (sf_dir is unused: the source
    IS the data; every other contract query scans parquet).

    Scale posture: the source declares real InputPartitions (8 here),
    so the scan schedules wide like any connector; generation cost is
    per-row Python but isolated to the source boundary — downstream
    aggregation is JVM codegen as usual."""
    from spark_kafka_airflow_pipeline_spark.io import pydatasource

    pydatasource.register(spark)
    df = (spark.read.format("seqgen")
          .option("n", "20000").option("partitions", "8").load())
    return (df.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("id").alias("id_checksum"),
                 F.min("tag").alias("min_tag"),
                 F.max("tag").alias("max_tag")))


#: The ``seqgen`` source's rows as an oracle CTE.
_SEQGEN_SQL = """
WITH g AS (
  SELECT i AS id, substr(md5(CAST(i AS VARCHAR)), 1, 8) AS tag,
         CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 1))::BIGINT
              AS INT) AS bucket
  FROM (SELECT unnest(range(0, 20000)) AS i)
)
SELECT bucket, COUNT(*) AS n_rows,
       CAST(SUM(id) AS BIGINT) AS id_checksum,
       MIN(tag) AS min_tag, MAX(tag) AS max_tag
FROM g"""

PY_DATASOURCE_SQL = _SEQGEN_SQL + " GROUP BY bucket\n"


def python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the Python DataSource (Spark 4.1
    ``DataSourceReader.pushFilters``): range predicates on the
    monotonic ``id`` column are consumed by the reader and clamp its
    partition planning — pruned splits are never scheduled — while the
    non-pushable ``bucket`` predicate stays a Spark-side residual.
    The clamp arithmetic is proven by the value-hash oracle (a wrong
    bound changes every aggregate), and the planning effect is pinned
    by ``tests/test_round6_late_ops.py::test_pushdown_prunes_partitions``.
    sf_dir is unused: the source IS the data."""
    from spark_kafka_airflow_pipeline_spark.io import pydatasource

    pydatasource.register(spark)
    df = (spark.read.format("seqgen")
          .option("n", "20000").option("partitions", "8").load())
    return (df.filter((F.col("id") >= 12000) & (F.col("id") < 18000)
                      & (F.col("bucket") >= 4))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("id").alias("id_checksum"),
                 F.min("tag").alias("min_tag"),
                 F.max("tag").alias("max_tag")))


PY_DATASOURCE_PUSHDOWN_SQL = _SEQGEN_SQL + """
WHERE id >= 12000 AND id < 18000 AND bucket >= 4
GROUP BY bucket
"""


def metadata_compiled_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 compiled PURELY from a declarative metadata JSON — the
    reference's whole thesis is config-driven pipelines
    (``Dataflow.scala:3-32``, ``PipelineProcessor.scala:13-42``); this
    proves the engine's executor registry (filter/select/rename/join/
    aggregate/add_fields/topk) composes into a real analytical query
    with NO Python DataFrame code, and hash-matches the hand-written
    ``q3_shipping_priority`` oracle. The plan Catalyst sees is the same
    declarative join tree, so every optimization (pushdown, AQE
    broadcast of the filtered customer side, shuffle join on the
    fact-fact edge) applies identically to config-driven pipelines."""
    from spark_kafka_airflow_pipeline_spark.executor import PipelineExecutor
    from spark_kafka_airflow_pipeline_spark.metadata import parse_metadata

    # the confs base.table pins (the executor reads parquet straight
    # from the metadata paths, bypassing the test-table loader)
    pin_table_confs(spark)
    # the engine's portable double-sum discipline (relational.SQL_DSUM):
    # per-term DECIMAL(20,6) makes the sum accumulation-order-free
    dsum_expr = ("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
                 "AS DECIMAL(20,6))) AS DOUBLE)")
    meta = parse_metadata({"dataflows": [{
        "name": "q3",
        "sources": [
            {"name": "customer", "path": f"{sf_dir}/customer.parquet"},
            {"name": "orders", "path": f"{sf_dir}/orders.parquet"},
            {"name": "lineitem", "path": f"{sf_dir}/lineitem.parquet"},
        ],
        "transformations": [
            {"name": "cust_b", "type": "filter", "params": {
                "input": "customer", "expr": "c_mktsegment = 'BUILDING'"}},
            {"name": "cust_k", "type": "select", "params": {
                "input": "cust_b", "columns": ["c_custkey"]}},
            {"name": "cust_j", "type": "rename", "params": {
                "input": "cust_k", "mapping": {"c_custkey": "o_custkey"}}},
            {"name": "ord_f", "type": "filter", "params": {
                "input": "orders",
                "expr": "o_orderdate < TIMESTAMP '1997-01-01'"}},
            {"name": "ord_k", "type": "select", "params": {
                "input": "ord_f",
                "columns": ["o_orderkey", "o_custkey", "o_orderdate"]}},
            {"name": "co", "type": "join", "params": {
                "input": "ord_k", "right": "cust_j", "on": ["o_custkey"]}},
            {"name": "co_j", "type": "rename", "params": {
                "input": "co", "mapping": {"o_orderkey": "l_orderkey"}}},
            {"name": "li_f", "type": "filter", "params": {
                "input": "lineitem",
                "expr": "l_shipdate > TIMESTAMP '1997-01-01'"}},
            {"name": "li_k", "type": "select", "params": {
                "input": "li_f",
                "columns": ["l_orderkey", "l_extendedprice", "l_discount"]}},
            {"name": "joined", "type": "join", "params": {
                "input": "li_k", "right": "co_j", "on": ["l_orderkey"]}},
            {"name": "rev", "type": "aggregate", "params": {
                "input": "joined", "groupBy": ["l_orderkey", "o_orderdate"],
                "aggregates": [{"name": "revenue", "function": dsum_expr}]}},
            {"name": "fmt", "type": "add_fields", "params": {
                "input": "rev", "addFields": [{
                    "name": "o_orderdate_s",
                    "function": "date_format(o_orderdate, 'yyyy-MM-dd')"}]}},
            {"name": "cols", "type": "select", "params": {
                "input": "fmt",
                "columns": ["l_orderkey", "o_orderdate_s", "revenue"]}},
            {"name": "named", "type": "rename", "params": {
                "input": "cols", "mapping": {"o_orderdate_s": "o_orderdate"}}},
            {"name": "top10", "type": "topk", "params": {
                "input": "named", "orderBy": ["-revenue", "l_orderkey"],
                "n": 10}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    return nodes["top10"]


def metadata_corpus_refinery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data refinery declared as ONE metadata JSON —
    the reference's config-driven Dataflow model (``Dataflow.scala:3-32``)
    carrying the engine's LLM-data surface: md5-portable MinHash+LSH
    near-dedup (the declarative ``dedup_near`` step, ``hashFamily:
    "md5"``) -> canonical-fingerprint exact dedup (window + filter
    steps) -> token-length quality gate -> per-language corpus stats.
    Every stage is a declared transformation; the whole composite is
    value-hash oracled against an independent DuckDB implementation
    (near-dedup candidates depend only on deterministic md5-derived
    hashes, so both engines generate the identical pair set — banding
    recall never perturbs the oracle).

    Scale: the near-dedup is the library's banded topology (no
    all-pairs), exact dedup is one window shuffle on the fingerprint,
    the gate is a codegen filter, and the final aggregate is tiny —
    the same plan the hand-written ``corpus_prep_pipeline`` makes."""
    from spark_kafka_airflow_pipeline_spark.executor import PipelineExecutor
    from spark_kafka_airflow_pipeline_spark.metadata import parse_metadata

    pin_table_confs(spark)
    meta = parse_metadata({"dataflows": [{
        "name": "refinery",
        "sources": [
            {"name": "documents", "path": f"{sf_dir}/documents.parquet"},
        ],
        "transformations": [
            {"name": "near", "type": "dedup_near", "params": {
                "input": "documents", "idColumn": "doc_id",
                "textColumn": "text", "threshold": 0.5,
                "hashFamily": "md5"}},
            {"name": "fp", "type": "add_fields", "params": {
                "input": "near", "addFields": [
                    {"name": "fp", "function":
                        "md5(regexp_replace(lower(trim(text)), "
                        "'\\\\s+', ' '))"},
                    {"name": "n_tokens", "function":
                        "CASE WHEN trim(text) = '' THEN 0 "
                        "ELSE size(split(trim(text), '\\\\s+')) END"},
                ]}},
            {"name": "ranked", "type": "window", "params": {
                "input": "fp", "partitionBy": ["fp"],
                "orderBy": ["doc_id"],
                "fields": [{"name": "rn", "function": "row_number()"}]}},
            {"name": "gated", "type": "filter", "params": {
                "input": "ranked", "expr": "rn = 1 AND n_tokens >= 5"}},
            {"name": "stats", "type": "aggregate", "params": {
                "input": "gated", "groupBy": ["lang"],
                "aggregates": [
                    {"name": "n_docs", "function": "COUNT(*)"},
                    {"name": "total_tokens",
                     "function": "CAST(SUM(n_tokens) AS BIGINT)"},
                ]}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    return nodes["stats"]


def _corpus_refinery_sql() -> str:
    from spark_kafka_airflow_pipeline_spark.operators.dedup import (
        MINHASH_MD5_SQL,
    )

    return f"""
WITH pairs AS ({MINHASH_MD5_SQL}),
kept AS (
  SELECT * FROM documents
  WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs)
),
m AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
         END AS n_tokens
  FROM kept
),
surv AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM m)
  WHERE rn = 1 AND n_tokens >= 5
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM surv GROUP BY lang
"""


def metadata_privacy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GOVERNANCE pipeline declared purely in metadata JSON [EXT]:
    the k-anonymity and l-diversity audits as one config-driven
    dataflow, exercising the executor's declarative ``sql``
    transformation node (arbitrary Spark SQL over registered upstream
    nodes — the escape hatch ``metadata_compiled_q3``'s typed nodes
    deliberately avoid). Output: one unified privacy report (metric x
    band) a review board reads; the DuckDB oracle re-derives both
    audits independently and applies the same union.

    Scale: exactly the audits' own plans (QI groupBys + bounded
    rollups) — the sql node compiles to the same Catalyst tree the
    hand-written operators produce."""
    from spark_kafka_airflow_pipeline_spark.executor import PipelineExecutor
    from spark_kafka_airflow_pipeline_spark.metadata import parse_metadata

    pin_table_confs(spark)
    report_sql = """
        WITH kgroups AS (
          SELECT lang, source, n_chars DIV 100 AS len_bucket,
                 COUNT(*) AS gsize
          FROM documents GROUP BY 1, 2, 3
        ), kb AS (
          SELECT CASE WHEN gsize = 1 THEN '1_unique'
                      WHEN gsize < 5 THEN '2_small(2-4)'
                      WHEN gsize < 20 THEN '3_medium(5-19)'
                      ELSE '4_anonymous(20+)' END AS band, gsize
          FROM kgroups
        ), lgroups AS (
          SELECT source, n_chars DIV 100 AS len_bucket,
                 COUNT(*) AS gsize, COUNT(DISTINCT lang) AS l
          FROM documents GROUP BY 1, 2
        ), lb AS (
          SELECT CASE WHEN l = 1 THEN '1_homogeneous'
                      WHEN l = 2 THEN '2_low(2)'
                      ELSE '3_diverse(3+)' END AS band, gsize
          FROM lgroups
        ), unioned AS (
          SELECT 'k_anonymity' AS metric, band, gsize FROM kb
          UNION ALL
          SELECT 'l_diversity' AS metric, band, gsize FROM lb
        )
        -- scalar subquery, not a 1-row cross join: the sql node's
        -- plan stays join-free (the subquery is one bounded scan)
        SELECT metric, band,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(gsize) AS BIGINT) AS n_docs,
               CAST(CAST(SUM(gsize) AS DECIMAL(38,0)) * 1000000
                    DIV (SELECT COUNT(*) FROM documents) AS BIGINT)
                 AS doc_share_ppm
        FROM unioned
        GROUP BY metric, band
    """
    meta = parse_metadata({"dataflows": [{
        "name": "privacy_report",
        "sources": [
            {"name": "documents", "path": f"{sf_dir}/documents.parquet"},
        ],
        "transformations": [
            {"name": "report", "type": "sql",
             "params": {"input": "documents", "sql": report_sql}},
        ],
        "sinks": [],
    }]})
    nodes = PipelineExecutor(spark).build_nodes(meta.dataflows[0])
    return nodes["report"]


METADATA_PRIVACY_SQL = """
WITH kgroups AS (
  SELECT lang, source, n_chars // 100 AS len_bucket, COUNT(*) AS gsize
  FROM documents GROUP BY 1, 2, 3
), kb AS (
  SELECT CASE WHEN gsize = 1 THEN '1_unique'
              WHEN gsize < 5 THEN '2_small(2-4)'
              WHEN gsize < 20 THEN '3_medium(5-19)'
              ELSE '4_anonymous(20+)' END AS band, gsize
  FROM kgroups
), lgroups AS (
  SELECT source, n_chars // 100 AS len_bucket,
         COUNT(*) AS gsize, COUNT(DISTINCT lang) AS l
  FROM documents GROUP BY 1, 2
), lb AS (
  SELECT CASE WHEN l = 1 THEN '1_homogeneous'
              WHEN l = 2 THEN '2_low(2)'
              ELSE '3_diverse(3+)' END AS band, gsize
  FROM lgroups
), tot AS (SELECT COUNT(*) AS n_total FROM documents),
unioned AS (
  SELECT 'k_anonymity' AS metric, band, gsize FROM kb
  UNION ALL
  SELECT 'l_diversity' AS metric, band, gsize FROM lb
)
SELECT metric, band,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(gsize) AS BIGINT) AS n_docs,
       CAST(CAST(SUM(gsize) AS HUGEINT) * 1000000 // n_total AS BIGINT)
         AS doc_share_ppm
FROM unioned CROSS JOIN tot
GROUP BY metric, band, n_total
"""


from spark_kafka_airflow_pipeline_spark.operators.relational import (  # noqa: E402
    Q3_SQL as _Q3_SQL,
)

QUERIES: dict[str, QueryFn] = {
    "python_datasource_scan": python_datasource_scan,
    "python_datasource_pushdown": python_datasource_pushdown,
    "metadata_compiled_q3": metadata_compiled_q3,
    "metadata_corpus_refinery": metadata_corpus_refinery,
    "metadata_privacy_report": metadata_privacy_report,
    "validate_split_ok": validate_split_ok,
    "validate_split_ko": validate_split_ko,
    "pipeline_add_fields": pipeline_add_fields,
    "kafka_wire_roundtrip": kafka_wire_roundtrip,
}

ORACLES: dict[str, str] = {
    "python_datasource_scan": PY_DATASOURCE_SQL,
    "python_datasource_pushdown": PY_DATASOURCE_PUSHDOWN_SQL,
    "metadata_compiled_q3": _Q3_SQL,
    "metadata_corpus_refinery": _corpus_refinery_sql(),
    "metadata_privacy_report": METADATA_PRIVACY_SQL,
    "validate_split_ok": VALIDATE_OK_SQL,
    "validate_split_ko": VALIDATE_KO_SQL,
    "pipeline_add_fields": ADD_FIELDS_SQL,
    "kafka_wire_roundtrip": KAFKA_WIRE_SQL,
}
