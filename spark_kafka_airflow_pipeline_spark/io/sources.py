"""Batch + streaming sources.

Reference source read: format-dispatched file load with schema inference
and glob paths (``PipelineProcessor.scala:105-112``); multi-source
dataflows union positionally (``:113``). The engine:

- supports any Spark batch format by config (json/parquet/csv/orc/avro/
  text), local or any Hadoop FS scheme — same surface;
- unions with ``unionByName(allowMissingColumns=True)`` instead of the
  reference's positional ``union`` (documented deviation, SURVEY.md
  §2.3.5: schema-inferred JSON sources with differing key sets misalign
  positionally);
- accepts an optional explicit DDL schema per source — required for
  production streaming, and at scale it skips the inference scan (a full
  extra pass over the data for JSON/CSV).
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.metadata import Source


def read_source(spark: SparkSession, source: Source) -> DataFrame:
    """Load one configured source (``PipelineProcessor.scala:105-112``).

    ``streaming: true`` reads the same path as a Structured Streaming
    file source. Streams need an explicit schema; if the config omits
    one, it is inferred from a one-off batch read of the path (fine for
    a dev loop; production configs should pin ``schema``)."""
    if source.streaming:
        schema = source.schema or (
            spark.read.format(source.format.lower())
            .options(**source.options).load(source.path).schema)
        return (spark.readStream.format(source.format.lower())
                .options(**source.options).schema(schema)
                .load(source.path))
    reader = spark.read.format(source.format.lower()).options(**source.options)
    if source.schema:
        reader = reader.schema(source.schema)
    return reader.load(source.path)


def union_by_name(frames: Iterable[DataFrame]) -> DataFrame:
    """Fold ``frames`` into one by column name; a column missing from a
    frame reads as NULL there (the reference unions positionally,
    ``:113``)."""
    frames = list(frames)
    if not frames:
        raise ValueError("dataflow has no sources")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


def read_sources_union(spark: SparkSession, sources: Iterable[Source],
                       tag: str | None = None) -> DataFrame:
    """Read every source and fold into one frame (``:106-113``),
    by-name with missing-column tolerance instead of positional.

    With ``tag``, each row also carries its source's name in a column
    of that name, so per-source frames can be sliced back out of the
    union."""
    return union_by_name(
        read_source(spark, s) if tag is None else
        read_source(spark, s).withColumn(tag, F.lit(s.name))
        for s in sources)


def parse_kafka_records(records: DataFrame, value_schema: str) -> DataFrame:
    """Decode Kafka wire-format records (``key``/``value`` binary or
    string columns + ``timestamp``) into typed columns with an explicit
    DDL schema via ``from_json``.

    Split out of ``read_kafka_stream`` so the parse path is testable
    without a broker: the projection is identical on a batch frame of
    ``io.sinks.serialize_for_kafka`` output and on the streaming frame a
    real ``format("kafka")`` source produces — Catalyst sees the same
    expressions either way.
    """
    return records.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        "timestamp",
    ).select("key", "v.*", "timestamp")


def read_kafka_stream(spark: SparkSession, bootstrap_servers: str, topic: str,
                      value_schema: str,
                      starting_offsets: str = "earliest") -> DataFrame:
    """Structured Streaming Kafka source [EXT].

    The reference uses Kafka only as a batch sink
    (``PipelineProcessor.scala:148-156``); the streaming read is the
    north-star extension. ``value`` is parsed with an explicit schema —
    inference is impossible on a stream.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_records(raw, value_schema)


def read_kafka_batch(spark: SparkSession, bootstrap_servers: str, topic: str,
                     value_schema: str,
                     starting_offsets: str = "earliest",
                     ending_offsets: str = "latest") -> DataFrame:
    """BOUNDED batch read of a Kafka topic — the read-side dual of the
    reference's batch publish (``PipelineProcessor.scala:148-156``):
    ``spark.read.format("kafka")`` with explicit offset bounds, then the
    same wire-format decode as the streaming path. Used for backfills
    and replay jobs where a topic segment is processed as a normal
    batch frame. No broker exists in this environment; the decode
    projection is the broker-free-tested ``parse_kafka_records``.
    """
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("endingOffsets", ending_offsets)
        .load()
    )
    return parse_kafka_records(raw, value_schema)
