"""File + Kafka sinks (batch and streaming).

Reference file sink: ``df.write.mode(saveMode).format(fmt).save(path +
"/" + sink.name)`` per configured path (``PipelineProcessor.scala:
122-128`` ok split, ``:134-140`` ko split). Reference Kafka sink:
serialize the whole row to one JSON string column ``value`` and write to
a topic (``publishToKafka``, ``:148-156``).

Engine extensions for scale:
- optional ``partitionBy`` columns on file sinks (partition pruning on
  read is the single biggest win for 100 TB date-partitioned data);
- parquet as the default format (columnar + stats + pushdown) where the
  reference defaults to the configured string;
- streaming variants via ``writeStream`` / ``foreachBatch`` reusing the
  same batch writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.metadata import Sink
from spark_kafka_airflow_pipeline_spark.operators.base import barrier


def serialize_for_kafka(df: DataFrame, key_column: str | None = None) -> DataFrame:
    """Row -> single JSON ``value`` column, the reference's wire format
    (``to_json(struct("*"))``, ``PipelineProcessor.scala:150``). The
    reference writes no key (SURVEY.md §2.3.6); passing ``key_column``
    adds one for partition-stable publishing (engine extension)."""
    cols = [F.to_json(F.struct("*")).alias("value")]
    if key_column is not None:
        cols.insert(0, F.col(key_column).cast("string").alias("key"))
    return df.select(*cols)


def publish_to_kafka(df: DataFrame, bootstrap_servers: str, topic: str,
                     key_column: str | None = None) -> None:
    """Batch-publish a frame to a topic (``PipelineProcessor.scala:148-156``).

    Executors hold the producer connections; the driver only plans.
    """
    (serialize_for_kafka(df, key_column)
     .write.format("kafka")
     .option("kafka.bootstrap.servers", bootstrap_servers)
     .option("topic", topic)
     .save())


def state_table_exists(spark, path: str) -> bool:
    """True iff the upsert state table at ``path`` already exists.

    Explicit Hadoop-FS existence check (works for local/HDFS/object
    stores) so the merge sinks can distinguish "first write — no state
    yet" from a genuine read failure (corrupt/partial state after a
    crash, FS hiccup, permission error).  Only the former may proceed
    with a state-free merge; every other failure must propagate, or the
    sink would silently discard all accumulated CDC state — the exact
    data-loss mode a MERGE sink exists to prevent."""
    hconf = spark._jsc.hadoopConfiguration()
    p = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    return p.getFileSystem(hconf).exists(p)


def upsert_sink(df: DataFrame, sink: Sink) -> None:
    """MERGE/upsert sink [EXT]: the state table at ``<path>/<name>``
    always holds the CURRENT row per key — per write, union the
    incoming frame with existing state and keep the per-key argmax of
    the configured order columns (descending; include a unique
    tiebreaker). Config surface: ``format: "upsert"`` with options
    ``keys`` and ``orderBy`` (comma-separated). The argmax rule makes
    the merge IDEMPOTENT and batch-split-independent, so streaming
    replays (foreachBatch redelivery after a crash) converge to the
    same state — the property a CDC sink needs for exactly-once
    SEMANTICS on at-least-once delivery.

    Read-modify-write: the merged frame goes through ``barrier`` before
    overwriting its own input dir. On a cluster with a MERGE-capable
    table format (Iceberg/Delta) this body becomes ``MERGE INTO``;
    the config contract is unchanged."""
    from pyspark.sql import Window

    keys = [c.strip() for c in sink.options["keys"].split(",")]
    order = [c.strip() for c in sink.options["orderBy"].split(",")]
    spark = df.sparkSession
    for path in sink.paths:
        state = f"{path}/{sink.name}"
        # Existence-gated, not exception-gated: a corrupt or partially
        # written state table must FAIL the merge, not be dropped.
        if state_table_exists(spark, state):
            merged = spark.read.parquet(state).unionByName(df)
        else:  # first write: no state yet
            merged = df
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in order])
        latest = barrier(merged.withColumn("_rn", F.row_number().over(w))
                         .filter(F.col("_rn") == 1).drop("_rn"))
        latest.write.mode("overwrite").parquet(state)


def write_sink(df: DataFrame, sink: Sink) -> None:
    """Write a frame to every configured path of a sink.

    Path layout is ``<path>/<name>`` exactly like the reference
    (``PipelineProcessor.scala:128``, ``:140``). ``format: "kafka"``
    routes to the Kafka batch sink, with ``paths`` read as
    ``bootstrap_servers`` and ``name`` as the topic; ``format:
    "upsert"`` routes to the keyed MERGE sink.
    """
    if sink.format.lower() == "upsert":
        upsert_sink(df, sink)
        return
    if sink.format.lower() == "kafka":
        for servers in sink.paths:
            publish_to_kafka(df, servers, sink.name,
                             key_column=sink.options.get("keyColumn"))
        return
    for path in sink.paths:
        writer = (df.write.mode(sink.saveMode.lower())
                  .format(sink.format.lower())
                  .options(**sink.options))
        if sink.partitionBy:
            writer = writer.partitionBy(*sink.partitionBy)
        writer.save(f"{path}/{sink.name}")


def check_append_only(sink: Sink) -> None:
    """Reject a sink that is unsafe to write once per micro-batch.

    Only ``saveMode: append`` is accepted: each micro-batch issues one
    batch write, so an OVERWRITE sink would clobber every previous
    batch's output — silent data loss on any multi-batch stream. The
    upsert sink is exempt: each micro-batch MERGES into its state (its
    overwrite IS the merge), so it is multi-batch-safe by construction
    whatever the declared saveMode. Callers check every sink of a
    dataflow before starting any query, so a bad sink leaves no partial
    output or checkpoint behind."""
    if (sink.saveMode.lower() != "append"
            and sink.format.lower() != "upsert"):
        raise ValueError(
            f"streaming sink {sink.name!r} has saveMode "
            f"{sink.saveMode!r}: foreachBatch re-runs the batch writer "
            "per micro-batch, so only 'append' is safe (OVERWRITE would "
            "clobber previous batches). Declare the sink as append, or "
            "run the dataflow as batch.")


class SinkLedger:
    """Which sinks already hold a micro-batch, for a query that writes
    several sinks from one ``foreachBatch`` callback.

    When sink *k* fails, Spark replays the whole batch on restart, and
    sinks 1..k-1 would append it a second time. The callback records
    each ``(batch_id, sink)`` after its write and skips recorded ones.
    Records are empty marker files ``<root>/<batch_id>/<key>`` on the
    checkpoint's Hadoop file system. Spark starts batch N+1 only after
    committing batch N, so ``start(N + 1)`` drops batch N's markers and
    at most one batch's markers stay on disk."""

    def __init__(self, spark, root: str):
        self._path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")
        self._root = root
        self._fs = self._path(root).getFileSystem(
            spark._jsc.hadoopConfiguration())

    def _marker(self, batch_id: int, key: str | None = None):
        return self._path(f"{self._root}/{batch_id}"
                          + ("" if key is None else f"/{key}"))

    def start(self, batch_id: int) -> None:
        self._fs.delete(self._marker(batch_id - 1), True)

    def holds(self, batch_id: int, key: str) -> bool:
        return self._fs.exists(self._marker(batch_id, key))

    def record(self, batch_id: int, key: str) -> None:
        self._fs.create(self._marker(batch_id, key), True).close()


def start_foreach_batch(df: DataFrame, write_batch, checkpoint: str,
                        available_now: bool = False):
    """Start a ``foreachBatch`` query calling ``write_batch(frame,
    batch_id)`` per micro-batch. ``available_now=True`` drains everything
    currently in the source and stops (bounded backfill / test runs);
    the default runs continuously.

    Exactly-once note: the checkpoint records which source files/offsets
    were already processed, so a RERUN against the same checkpoint
    skips everything previously seen (no duplicate appends) — delete
    the checkpoint directory to reprocess from scratch.
    """
    writer = (df.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_sink(df: DataFrame, sink: Sink, checkpoint: str,
                       available_now: bool = False):
    """One streaming query that reuses the batch ``write_sink`` per
    micro-batch — the idiomatic way to stream into any batch-only
    format. The executor uses it, one query per sink, only for
    dataflows with stateful steps (watermark + aggregate, dedup, join,
    ...) or an upsert sink; a row-local streaming dataflow drains as one
    query fanned out to every sink (``executor.fans_out``).

    The sink must pass :func:`check_append_only`; see
    :func:`start_foreach_batch` for ``available_now`` and the
    checkpoint's exactly-once contract.
    """
    check_append_only(sink)

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        write_sink(batch_df, sink)

    return start_foreach_batch(df, _write, checkpoint, available_now)
