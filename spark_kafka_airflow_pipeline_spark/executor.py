"""Pipeline executor: runs a ``DataflowMetadata`` spec as a DataFrame DAG.

Reference executor: ``PipelineProcessor.process`` at
``PipelineProcessor.scala:13-42`` — for each dataflow, read+union sources
(``:29``, ``:105-113``), apply ``add_fields`` (``:31``), apply
``validate_fields`` (``:36``), persist to sinks (``:39``, ``:115-146``).

Differences from the reference, all documented in SURVEY.md:

- **Real DAG edges.** The reference ignores ``params.input`` and
  hard-codes the order (``:24-39``); the engine resolves each
  transformation's ``input`` against a node registry, so dataflows can
  declare arbitrary chains. A ``validate_fields`` node named ``v``
  registers both ``v_ok`` and ``v_ko`` (matching the reference's
  implicit ``validation_ok``/``validation_ko`` tags, ``metadata.json:38``,
  ``:59``).
- **Single-pass split** with exact partitioning NULL semantics
  (see ``transforms.validate_fields``).
- **Unknown sink tags fail at parse time** (``metadata.SpecError``)
  instead of as a Scala ``MatchError`` mid-run (``:117-146``).
- **One step table.** ``STEPS`` has a builder for each entry of
  ``metadata.STEP_PARAMS``, the one list of step types.
- **Cache lifecycle**: the split point is cached (as the reference does,
  ``:65``) and unpersisted after all sinks are written.

Streaming dataflows drain with ``availableNow`` ``foreachBatch``
queries into the batch sink writers, on one of two paths chosen from
the spec (:func:`fans_out`):

- **Row-local flows run as one query.** When every source streams,
  every step is row-local
  (``add_fields``, ``validate_fields`` without a ``unique`` rule,
  ``filter``, ``select``, ``drop``, ``rename``) and no sink is an upsert
  state table, one query drains the union of the sources, each row
  tagged with its source. Each micro-batch goes through the ordinary
  batch path: the same node builder runs on the micro-batch (per-source
  nodes are sliced back out by tag), the validation split is cached
  once, every sink is written from that cache, and the cache is
  released before the callback returns. This is the reference's
  read-once, cache, write-everywhere pattern (``:64-65``) applied per
  micro-batch. Before the query starts, Spark's streaming-support check
  runs on each sink's streaming plan, so a stream-only error (a
  non-time window in an ``add_fields`` expression) still raises. A
  ``SinkLedger`` under the checkpoint makes a replayed micro-batch skip
  the sinks that already hold it.
- **Stateful flows run one query per sink** (``foreach_batch_sink``):
  watermark + aggregate, dedup, join, window, topk, sort, limit, sql,
  a ``unique`` rule, or an upsert sink (it merges into a state table),
  and flows that mix streaming and batch sources. These need streaming
  state or a streaming-only analysis check, and per-micro-batch batch
  semantics would silently change their answers.

Every streaming sink must be append-only, and all of them are checked
before any query starts. The one-query path keeps its checkpoint where
the first sink's per-sink checkpoint lives,
``<sinks[0].paths[0]>/<sinks[0].name>.checkpoint``, so single-sink
flows resume from their existing checkpoint. A multi-sink row-local
flow used to keep one checkpoint per sink; those of sinks 2..n are no
longer read, and the first sink's checkpoint governs the whole flow.
"""

from __future__ import annotations

import logging
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.io import sinks as io_sinks
from spark_kafka_airflow_pipeline_spark.io.sinks import (
    SinkLedger,
    check_append_only,
    start_foreach_batch,
    write_sink,
)
# read_sources_union is not called here; perfbench's tracer wraps it
# under this module's name
from spark_kafka_airflow_pipeline_spark.io.sources import (  # noqa: F401
    read_source,
    read_sources_union,
    union_by_name,
)
from spark_kafka_airflow_pipeline_spark.metadata import (
    Dataflow,
    DataflowMetadata,
    Transformation,
    node_names,
)
from spark_kafka_airflow_pipeline_spark.transforms import add_fields
from spark_kafka_airflow_pipeline_spark.transforms.validate_fields import (
    validate_fields_split,
)

log = logging.getLogger(__name__)


class _Run(NamedTuple):
    """What a step builder sees besides its params and input frame."""

    spark: SparkSession
    nodes: dict[str, DataFrame]  # every node built so far
    cached: list[DataFrame]      # unpersisted once the sinks are written


def _sort_keys(columns: list[str]) -> list[Column]:
    """``"-col"`` sorts descending, a bare name ascending."""
    return [F.col(c[1:]).desc() if c.startswith("-") else F.col(c)
            for c in columns]


def _validate_fields(run: _Run, p, df: DataFrame):
    # a streaming frame is only planned here: its rows are split per
    # micro-batch, either on the batch path of a fanned-out flow (where
    # the split caches) or inside a stateful flow's per-sink query
    ok, ko, cached_parent = validate_fields_split(
        df, p.validations, cache=not df.isStreaming)
    if cached_parent is not None:
        run.cached.append(cached_parent)
    return ok, ok, ko  # in node_names order: <name>, <name>_ok, <name>_ko


def _sql(run: _Run, p, df: DataFrame) -> DataFrame:
    for name, frame in run.nodes.items():
        if not name.startswith("__"):
            frame.createOrReplaceTempView(name)
    return run.spark.sql(p.sql)


def _aggregate(run: _Run, p, df: DataFrame) -> DataFrame:
    # groupBy entries are full expression strings ("x AS alias"
    # allowed), so configs can group on computed keys, e.g. the
    # streaming time bucket window(ts, '1 hour') AS w
    return df.groupBy(*[F.expr(g) for g in p.groupBy]).agg(
        *[F.expr(a.function).alias(a.name) for a in p.aggregates])


def _union(run: _Run, p, df: DataFrame) -> DataFrame:
    return union_by_name([run.nodes[n] for n in p.inputs] or [df])


def _dedup_near(run: _Run, p, df: DataFrame) -> DataFrame:
    # near-duplicate removal as a DECLARATIVE step: the operator
    # library's word-shingle pair pipeline under the declared hash
    # family (md5 is the oracled MINHASH_MD5_SQL family), then
    # keep-first survivorship — drop every doc that is the LARGER end
    # of a verified pair (deterministic; the kept set is exactly the
    # pair-graph minima). No all-pairs join.
    from spark_kafka_airflow_pipeline_spark.operators import dedup

    d = df.select(F.col(p.idColumn).alias("doc_id"),
                  F.col(p.textColumn).alias("text"))
    pairs = dedup.near_dup_pairs(d, dedup.FAMILIES[p.hashFamily],
                                 p.threshold)
    drop = pairs.select(F.col("doc_b").alias(p.idColumn)).distinct()
    return df.join(drop, p.idColumn, "left_anti")


def _fingerprint(run: _Run, p, df: DataFrame) -> DataFrame:
    # winnowing fingerprint summary as a DECLARATIVE step: annotate
    # each row with its MOSS (k=3, w=4) fingerprint stats (count / xor
    # checksum / min) — the config-driven path to the oracled
    # winnow_fingerprints operator; the join back on the id preserves
    # the full input schema
    from spark_kafka_airflow_pipeline_spark.operators.textops import (
        winnow_summary,
    )

    summary = winnow_summary(df.select(F.col(p.idColumn).alias("doc_id"),
                                       F.col(p.textColumn).alias("text")))
    return df.join(summary.withColumnsRenamed({"doc_id": p.idColumn}),
                   p.idColumn)


def _window(run: _Run, p, df: DataFrame) -> DataFrame:
    # each field is a Spark SQL expression string evaluated over ONE
    # shared window spec, so a multi-field step costs a single shuffle
    # on the partition keys (the engine's window discipline — see
    # operators.relational)
    spec = Window.partitionBy(*p.partitionBy)
    if p.orderBy:
        spec = spec.orderBy(*_sort_keys(p.orderBy))
    for f in p.fields:
        df = df.withColumn(f.name, F.expr(f.function).over(spec))
    return df


def _topk(run: _Run, p, df: DataFrame) -> DataFrame:
    # global (orderBy+limit lowers to TakeOrderedAndProject —
    # per-partition heaps, no full sort) or per-group via one
    # row_number window (single shuffle on the partition keys). Authors
    # should order by a tie-breaking key set so the selected row SET is
    # unique.
    keys = _sort_keys(p.orderBy)
    if not p.partitionBy:
        return df.orderBy(*keys).limit(p.n)
    spec = Window.partitionBy(*p.partitionBy).orderBy(*keys)
    return (df.withColumn("__rn", F.row_number().over(spec))
            .filter(F.col("__rn") <= p.n).drop("__rn"))


class Step(NamedTuple):
    """One step type: ``build(run, params, input frame)`` returns the
    frame for each of ``metadata.node_names`` (a bare frame for one)."""

    build: Callable[[_Run, Any, DataFrame], Any]
    #: every output row depends on one input row
    row_local: bool = False
    #: one of the reference's own types: with several sources, an input
    #: naming one of them reads their union (PipelineProcessor.scala:29)
    reference: bool = False


#: One builder per step type of ``metadata.STEP_PARAMS``. The builders
#: hold no checks: ``parse_metadata`` has rejected every bad spec.
STEPS: dict[str, Step] = {
    "add_fields": Step(lambda run, p, df: add_fields(df, p.addFields),
                       row_local=True, reference=True),
    "validate_fields": Step(_validate_fields, row_local=True, reference=True),
    "sql": Step(_sql),
    "filter": Step(lambda run, p, df: df.filter(p.expr), row_local=True),
    "select": Step(lambda run, p, df: df.select(*p.columns), row_local=True),
    "drop": Step(lambda run, p, df: df.drop(*p.columns), row_local=True),
    "rename": Step(lambda run, p, df: df.withColumnsRenamed(p.mapping),
                   row_local=True),
    "dedup": Step(lambda run, p, df: df.dropDuplicates(p.columns or None)),
    "sort": Step(lambda run, p, df: df.orderBy(*_sort_keys(p.columns))),
    "limit": Step(lambda run, p, df: df.limit(p.n)),
    "join": Step(lambda run, p, df: df.join(
        run.nodes[p.right], on=p.on or None, how=p.how)),
    "aggregate": Step(_aggregate),
    # event-time watermark: the declarative knob that bounds streaming
    # state (and admits append-mode window aggs); a no-op on batch
    # frames, as in Spark
    "watermark": Step(lambda run, p, df: df.withWatermark(p.column, p.delay)),
    "union": Step(_union),
    "window": Step(_window),
    "topk": Step(_topk),
    "dedup_near": Step(_dedup_near),
    "fingerprint": Step(_fingerprint),
    # set ops; ``all`` keeps duplicate multiplicity (SQL INTERSECT ALL /
    # EXCEPT ALL). Both plan as one shuffle on the full row.
    "intersect": Step(lambda run, p, df: (
        df.intersectAll if p.all else df.intersect)(run.nodes[p.right])),
    "except": Step(lambda run, p, df: (
        df.exceptAll if p.all else df.subtract)(run.nodes[p.right])),
}

#: Step types whose every output row depends on one input row.
ROW_LOCAL_STEPS = frozenset(k for k, step in STEPS.items() if step.row_local)
#: Column carrying each row's source name in a fanned-out stream.
SOURCE_TAG = "__source__"


def fans_out(flow: Dataflow) -> bool:
    """True when a streaming dataflow drains as ONE query whose
    micro-batches are fanned out to every sink: it has sinks, every
    source streams, every step is row-local, no validation is the
    dataset-level ``unique`` rule and no sink is an upsert state table."""
    return (bool(flow.sinks) and all(s.streaming for s in flow.sources)
            and all(t.type in ROW_LOCAL_STEPS
                    and not any("unique" in v.validations for v in
                                getattr(t.params, "validations", ()))
                    for t in flow.transformations)
            and all(s.format.lower() != "upsert" for s in flow.sinks))


def _check_streamable(spark: SparkSession, df: DataFrame) -> None:
    """Run Spark's streaming-support check on a streaming node's plan.

    A fanned-out flow applies its steps to batch micro-batch frames,
    where Spark would not check them, so an operation a stream cannot
    run (a non-time window function in an ``add_fields`` expression,
    say) must raise here, with Spark's own error, rather than be
    computed per micro-batch."""
    jvm = spark._jvm  # a full name is one class lookup, not one per package
    getattr(jvm, "org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker") \
        .checkForStreaming(df._jdf.queryExecution().analyzed(),
                           getattr(jvm, "org.apache.spark.sql.streaming.OutputMode").Append())


class PipelineExecutor:
    """Executes dataflows; one DataFrame lineage per dataflow."""

    def __init__(self, spark: SparkSession, observe_metrics: bool = False):
        self.spark = spark
        # per-sink row accounting via df.observe(): the count rides the
        # WRITE job itself (an accumulator over rows as they stream to
        # the sink) — no second scan, no cache, exact even at 100 TB.
        # Collected into ``self.sink_metrics`` keyed
        # (dataflow, sink.input, sink.name).
        self.observe_metrics = observe_metrics
        self.sink_metrics: dict[tuple[str, str, str], dict] = {}

    # -- public API ---------------------------------------------------

    def process(self, metadata: DataflowMetadata) -> dict[str, dict[str, DataFrame]]:
        """Run every dataflow (reference ``process()``, ``:13-42``).

        Returns ``{dataflow_name: {node_name: DataFrame}}`` so tests and
        notebooks can inspect intermediate nodes; the reference returns
        Unit and only writes sinks.
        """
        return {df.name: self.run_dataflow(df) for df in metadata.dataflows}

    def run_dataflow(self, flow: Dataflow) -> dict[str, DataFrame]:
        one_query = fans_out(flow)
        frames, stream = self._read(
            flow, SOURCE_TAG if one_query and len(flow.sources) > 1 else None)
        nodes, cached = self._build(flow, frames)
        try:
            # every sink is checked before any is written, so a bad one
            # leaves no partial output or checkpoint behind
            for sink in flow.sinks:
                if nodes[sink.input].isStreaming:
                    check_append_only(sink)
                if one_query:
                    _check_streamable(self.spark, nodes[sink.input])
            if one_query:
                self._drain_fanned_out(flow, stream, frames)
            else:
                for sink in flow.sinks:
                    self._write(flow, sink, nodes[sink.input])
        finally:
            # cached frames are tracked explicitly at build time: the
            # split point caches its internal ANNOTATED parent, whose
            # ok/ko children report is_cached == False — scanning node
            # outputs would find nothing and leak the cache entry per
            # dataflow run in a long-lived session
            for df in cached:
                df.unpersist()
        return nodes

    def build_nodes(self, flow: Dataflow) -> dict[str, DataFrame]:
        """Materialize the node registry without writing sinks. NB: any
        split-point cache stays alive — callers that never write sinks
        manage (or accept) that lifecycle themselves."""
        return self._build(flow, self._read(flow)[0])[0]

    def _read(self, flow: Dataflow, tag: str | None = None
              ) -> tuple[dict[str, DataFrame], DataFrame]:
        """``({source name: frame, "__sources__": union}, union)``; with
        ``tag``, the second union carries each row's source name in that
        column while ``__sources__`` stays the untagged union. Each
        source is read once: a schema-less JSON source runs one
        inference job per read."""
        read = [(s.name, read_source(self.spark, s)) for s in flow.sources]
        frames = {**dict(read), "__sources__": union_by_name(df for _, df in read)}
        if tag is None:
            return frames, frames["__sources__"]
        return frames, union_by_name(df.withColumn(tag, F.lit(name))
                                     for name, df in read)

    def _build(self, flow: Dataflow, frames: dict[str, DataFrame]
               ) -> tuple[dict[str, DataFrame], list[DataFrame]]:
        """Apply the flow's transformations to ``frames`` (one frame per
        source name plus ``__sources__``, their union): the batch run,
        the streaming node registry and each fanned-out micro-batch all
        build their nodes here."""
        run = _Run(self.spark, dict(frames), [])
        sources = {s.name for s in flow.sources}
        for t in flow.transformations:
            out = STEPS[t.type].build(
                run, t.params, _resolve_input(t, run.nodes, sources))
            run.nodes.update(zip(node_names(t),
                                 out if isinstance(out, tuple) else (out,)))
        return run.nodes, run.cached

    # -- sinks ----------------------------------------------------------

    def _write(self, flow: Dataflow, sink, out: DataFrame) -> None:
        """Write one sink: batch, observed batch, or (stateful streaming
        flows) its own ``foreachBatch`` query."""
        if out.isStreaming:
            # checkpoint lives beside the sink output; availableNow =
            # bounded run (a service deployment would start() and keep
            # the query handle instead)
            io_sinks.foreach_batch_sink(
                out, sink, checkpoint=f"{sink.paths[0]}/{sink.name}.checkpoint",
                available_now=True).awaitTermination()
        elif self.observe_metrics:
            from pyspark.sql import Observation

            obs = Observation(f"{flow.name}/{sink.input}/{sink.name}")
            write_sink(out.observe(obs, F.count(F.lit(1)).alias("rows")), sink)
            self.sink_metrics[(flow.name, sink.input, sink.name)] = obs.get
        else:
            write_sink(out, sink)

    def _drain_fanned_out(self, flow: Dataflow, stream: DataFrame,
                          frames: dict[str, DataFrame]) -> None:
        """Drain a row-local streaming flow as one query over ``stream``
        (the sources' union, tagged when there are several): each
        micro-batch runs the batch path and writes every sink."""
        first = flow.sinks[0]
        checkpoint = f"{first.paths[0]}/{first.name}.checkpoint"
        ledger = SinkLedger(self.spark, f"{checkpoint}/sinks")
        schemas = {s.name: frames[s.name].schema for s in flow.sources}

        def write_batch(batch: DataFrame, batch_id: int) -> None:
            ledger.start(batch_id)
            if len(schemas) > 1:
                slices = {"__sources__": batch.drop(SOURCE_TAG)}
                for name, schema in schemas.items():
                    # the union may have widened a column's type; cast
                    # back to the source's own schema
                    slices[name] = batch.filter(F.col(SOURCE_TAG) == name).select(
                        *[F.col(f.name).cast(f.dataType).alias(f.name)
                          for f in schema])
            else:
                slices = dict.fromkeys([*schemas, "__sources__"], batch)
            nodes, cached = self._build(flow, slices)
            try:
                for i, sink in enumerate(flow.sinks):
                    key = f"{i}-{sink.name}"
                    if not ledger.holds(batch_id, key):
                        write_sink(nodes[sink.input], sink)
                        ledger.record(batch_id, key)
            finally:
                for df in cached:
                    df.unpersist()

        start_foreach_batch(stream, write_batch, checkpoint,
                            available_now=True).awaitTermination()


def _resolve_input(t: Transformation, nodes: dict[str, DataFrame],
                   sources: set[str]) -> DataFrame:
    name = t.params.input
    if name is None:
        return nodes["__sources__"]
    if name in sources and len(sources) > 1 and STEPS[t.type].reference:
        # reference parity for the REFERENCE's transformation types:
        # multi-source dataflows consume the union regardless of the
        # configured input (PipelineProcessor.scala:29). Engine
        # extensions (join/aggregate/union/...) address individual
        # sources — a join's build side must not silently become the
        # union of both join inputs.
        log.info("transformation %s: input %r is one of several sources; "
                 "using the union of all sources (reference semantics)",
                 t.name, name)
        return nodes["__sources__"]
    return nodes[name]
