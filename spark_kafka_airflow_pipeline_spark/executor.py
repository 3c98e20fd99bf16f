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
- **Unknown sink tags raise** a named error instead of Scala
  ``MatchError`` (``:117-146``).
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.io import sinks as io_sinks
from spark_kafka_airflow_pipeline_spark.io.sinks import (
    SinkLedger,
    check_append_only,
    start_foreach_batch,
    write_sink,
)
from spark_kafka_airflow_pipeline_spark.io.sources import read_source, read_sources_union
from spark_kafka_airflow_pipeline_spark.metadata import (
    Dataflow,
    DataflowMetadata,
    Transformation,
)
from spark_kafka_airflow_pipeline_spark.transforms import add_fields
from spark_kafka_airflow_pipeline_spark.transforms.validate_fields import (
    validate_fields_split,
)

log = logging.getLogger(__name__)

#: Step types whose every output row depends on one input row.
ROW_LOCAL_STEPS = frozenset(
    {"add_fields", "validate_fields", "filter", "select", "drop", "rename"})
#: Column carrying each row's source name in a fanned-out stream.
SOURCE_TAG = "__source__"


def fans_out(flow: Dataflow) -> bool:
    """True when a streaming dataflow drains as ONE query whose
    micro-batches are fanned out to every sink: it has sinks, every
    source streams, every step is row-local, no validation is the
    dataset-level ``unique`` rule and no sink is an upsert state table."""
    return (bool(flow.sinks) and all(s.streaming for s in flow.sources)
            and all(t.type in ROW_LOCAL_STEPS
                    and not any("unique" in v.validations
                                for v in t.params.validations)
                    for t in flow.transformations)
            and all(s.format.lower() != "upsert" for s in flow.sinks))


def _check_streamable(spark: SparkSession, df: DataFrame) -> None:
    """Run Spark's streaming-support check on a streaming node's plan.

    A fanned-out flow applies its steps to batch micro-batch frames,
    where Spark would not check them, so an operation a stream cannot
    run (a non-time window function in an ``add_fields`` expression,
    say) must raise here, with Spark's own error, rather than be
    computed per micro-batch."""
    jvm = spark._jvm
    jvm.org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker \
        .checkForStreaming(df._jdf.queryExecution().analyzed(),
                           jvm.org.apache.spark.sql.streaming.OutputMode.Append())


class PipelineExecutor:
    """Executes dataflows; one DataFrame lineage per dataflow."""

    def __init__(self, spark: SparkSession, debug_show: bool = False,
                 observe_metrics: bool = False):
        self.spark = spark
        # the reference force-computes both splits with show(false)
        # (PipelineProcessor.scala:70, :84); gate that behind a flag
        self.debug_show = debug_show
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
                if sink.input not in nodes:
                    raise KeyError(
                        f"sink of dataflow {flow.name!r} references unknown node "
                        f"{sink.input!r}; known nodes: {sorted(nodes)}")
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
            # cached frames are tracked explicitly at _apply time: the
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
        column while ``__sources__`` stays the untagged union."""
        frames = {s.name: read_source(self.spark, s) for s in flow.sources}
        union_all = read_sources_union(self.spark, flow.sources, tag=tag)
        frames["__sources__"] = union_all if tag is None else union_all.drop(tag)
        return frames, union_all

    def _build(self, flow: Dataflow, frames: dict[str, DataFrame]
               ) -> tuple[dict[str, DataFrame], list[DataFrame]]:
        """Apply the flow's transformations to ``frames`` (one frame per
        source name plus ``__sources__``, their union): the batch run,
        the streaming node registry and each fanned-out micro-batch all
        build their nodes here."""
        nodes = dict(frames)
        cached: list[DataFrame] = []
        source_names = {s.name for s in flow.sources}
        for t in flow.transformations:
            upstream = self._resolve_input(t, nodes, source_names)
            self._apply(t, upstream, nodes, cached)
        return nodes, cached

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

    # -- internals ----------------------------------------------------

    def _resolve_input(self, t: Transformation, nodes: dict[str, DataFrame],
                       source_names: set[str]) -> DataFrame:
        name = t.params.input
        if name is None:
            return nodes["__sources__"]
        if (name in source_names and len(source_names) > 1
                and t.type in ("add_fields", "validate_fields")):
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
        if name not in nodes:
            raise KeyError(f"transformation {t.name!r} references unknown input "
                           f"{name!r}; known nodes: {sorted(nodes)}")
        return nodes[name]

    def _apply(self, t: Transformation, df: DataFrame,
               nodes: dict[str, DataFrame],
               cached: list[DataFrame]) -> None:
        kind = t.type
        if kind == "add_fields":
            nodes[t.name] = add_fields(df, t.params.addFields)
        elif kind == "validate_fields":
            # a streaming frame is only planned here: its rows are
            # split per micro-batch, either on the batch path of a
            # fanned-out flow (where the split caches) or inside a
            # stateful flow's per-sink query
            ok, ko, cached_parent = validate_fields_split(
                df, t.params.validations, cache=not df.isStreaming)
            if cached_parent is not None:
                cached.append(cached_parent)
            if self.debug_show and not ok.isStreaming:
                ok.show(truncate=False)
                ko.show(truncate=False)
            nodes[f"{t.name}_ok"] = ok
            nodes[f"{t.name}_ko"] = ko
            nodes[t.name] = ok  # bare name == valid split, for chaining
        elif kind == "sql":
            for name, frame in nodes.items():
                if not name.startswith("__"):
                    frame.createOrReplaceTempView(name)
            nodes[t.name] = self.spark.sql(t.params.sql)
        elif kind == "filter":
            nodes[t.name] = df.filter(t.params.expr)
        elif kind == "select":
            nodes[t.name] = df.select(*t.params.columns)
        elif kind == "drop":
            nodes[t.name] = df.drop(*t.params.columns)
        elif kind == "dedup":
            cols = t.params.columns or None
            nodes[t.name] = df.dropDuplicates(cols)
        elif kind == "sort":
            # "-col" sorts descending, bare name ascending
            if not t.params.columns:
                raise ValueError(f"sort {t.name!r} declares no columns")
            keys = [F.col(c[1:]).desc() if c.startswith("-") else F.col(c)
                    for c in t.params.columns]
            nodes[t.name] = df.orderBy(*keys)
        elif kind == "limit":
            if t.params.n is None or t.params.n < 0:
                raise ValueError(f"limit {t.name!r} needs a non-negative 'n'")
            nodes[t.name] = df.limit(t.params.n)
        elif kind == "rename":
            if not t.params.mapping:
                raise ValueError(f"rename {t.name!r} declares no mapping")
            nodes[t.name] = df.withColumnsRenamed(t.params.mapping)
        elif kind == "join":
            if t.params.right not in nodes:
                raise KeyError(f"join {t.name!r} references unknown right "
                               f"node {t.params.right!r}; known: {sorted(nodes)}")
            if not t.params.on and t.params.how != "cross":
                # a metadata file that omits 'on' would silently plan a
                # cartesian product — a runaway job at scale; cartesian
                # intent must be explicit via how="cross"
                raise ValueError(
                    f"join {t.name!r} declares no join keys ('on'); "
                    f"set how='cross' to request a cartesian product")
            nodes[t.name] = df.join(nodes[t.params.right],
                                    on=t.params.on or None,
                                    how=t.params.how)
        elif kind == "aggregate":
            aggs = [F.expr(a.function).alias(a.name)
                    for a in t.params.aggregates]
            if not aggs:
                raise ValueError(f"aggregate {t.name!r} declares no aggregates")
            # groupBy entries are full expression strings ("x AS alias"
            # allowed), so configs can group on computed keys — e.g. the
            # streaming time bucket window(ts, '1 hour') AS w. Plain
            # column names parse unchanged.
            keys = [F.expr(g) for g in t.params.groupBy]
            nodes[t.name] = df.groupBy(*keys).agg(*aggs)
        elif kind == "watermark":
            # event-time watermark: the declarative knob that bounds
            # streaming state (and admits append-mode window aggs).
            # Harmless no-op semantics on batch frames, same as Spark.
            if not t.params.column or not t.params.delay:
                raise ValueError(
                    f"watermark {t.name!r} needs 'column' and 'delay'")
            nodes[t.name] = df.withWatermark(t.params.column, t.params.delay)
        elif kind == "union":
            names = t.params.inputs
            missing = [n for n in names if n not in nodes]
            if missing:
                raise KeyError(f"union {t.name!r} references unknown nodes "
                               f"{missing}; known: {sorted(nodes)}")
            frames = [nodes[n] for n in names] or [df]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f, allowMissingColumns=True)
            nodes[t.name] = out
        elif kind == "dedup_near":
            # near-duplicate removal as a DECLARATIVE step: the same
            # MinHash-LSH pipeline the operator library exposes
            # (signature pass -> banded buckets -> estimate filter ->
            # exact-Jaccard verify), then keep-first survivorship —
            # drop every doc that is the LARGER end of a verified pair
            # (deterministic; the kept set is exactly the pair-graph
            # minima). All bounded-bucket, no all-pairs join — the
            # operator library's scale posture carries over verbatim.
            from spark_kafka_airflow_pipeline_spark.functions import (
                text as T,
            )
            from spark_kafka_airflow_pipeline_spark.operators.dedup import (
                estimate_filter_pairs,
                lsh_band_candidates,
                minhash_signature_agg,
                verify_pairs_jaccard,
            )

            if not t.params.idColumn:
                raise ValueError(
                    f"dedup_near {t.name!r} needs 'idColumn' (a unique "
                    "document id)")
            d = df.select(F.col(t.params.idColumn).alias("doc_id"),
                          F.col(t.params.textColumn).alias("text"))
            if t.params.hashFamily == "md5":
                # portable family: every hash is md5-derived, so the
                # declared step is value-hash provable against a DuckDB
                # twin (MINHASH_MD5_SQL) — the config-driven path to
                # the engine's oracled near-dedup
                from spark_kafka_airflow_pipeline_spark.operators.dedup import (
                    md5_minhash_verified_pairs,
                )

                grams = (d.select(
                    "doc_id", T.split_tokens("text").alias("toks"))
                    .select(
                        "doc_id",
                        F.array_distinct(T.raw_shingles_of(F.col("toks"), 3))
                        .alias("grams")))
                pairs = md5_minhash_verified_pairs(
                    grams, t.params.threshold)
            else:
                tokens = lambda c: T.shingles(c, 3)  # noqa: E731
                sigs = minhash_signature_agg(d, num_hashes=16,
                                             tokens=tokens)
                cand = lsh_band_candidates(sigs, 16, 4, distinct=False,
                                           carry="minhash")
                good = estimate_filter_pairs(cand, 16, t.params.threshold)
                pairs = verify_pairs_jaccard(good, d, tokens,
                                             t.params.threshold)
            drop = pairs.select(
                F.col("doc_b").alias(t.params.idColumn)).distinct()
            nodes[t.name] = df.join(drop, t.params.idColumn, "left_anti")
        elif kind == "fingerprint":
            # winnowing fingerprint summary as a DECLARATIVE step:
            # annotate each row with its MOSS (k=3, w=4) fingerprint
            # stats (count / xor checksum / min) — the config-driven
            # path to the oracled winnow_fingerprints operator; the
            # join back on the id preserves the full input schema
            from spark_kafka_airflow_pipeline_spark.operators.textops import (
                _winnow_selected,
            )

            if not t.params.idColumn:
                raise ValueError(
                    f"fingerprint {t.name!r} needs 'idColumn' (a unique "
                    "document id)")
            d = df.select(F.col(t.params.idColumn).alias("doc_id"),
                          F.col(t.params.textColumn).alias("text"))
            summary = (_winnow_selected(d)
                       .groupBy("doc_id")
                       .agg(F.count(F.lit(1)).alias("n_fps"),
                            F.expr("bit_xor(fp)").alias("fp_xor"),
                            F.min("fp").alias("fp_min"))
                       .withColumnsRenamed({"doc_id": t.params.idColumn}))
            nodes[t.name] = df.join(summary, t.params.idColumn)
        elif kind == "window":
            # declarative window functions: each field is a Spark SQL
            # expression string evaluated over ONE shared window spec,
            # so a multi-field step costs a single shuffle on the
            # partition keys (the engine's window discipline — see
            # operators.relational). "-col" in orderBy sorts descending.
            if not t.params.fields:
                raise ValueError(f"window {t.name!r} declares no fields")
            from pyspark.sql import Window

            spec = Window.partitionBy(*t.params.partitionBy) if \
                t.params.partitionBy else Window.partitionBy()
            if t.params.orderBy:
                keys = [F.col(c[1:]).desc() if c.startswith("-")
                        else F.col(c) for c in t.params.orderBy]
                spec = spec.orderBy(*keys)
            out = df
            for f in t.params.fields:
                out = out.withColumn(f.name, F.expr(f.function).over(spec))
            nodes[t.name] = out
        elif kind == "topk":
            # declarative top-k: global (orderBy+limit lowers to
            # TakeOrderedAndProject — per-partition heaps, no full
            # sort) or per-group via one row_number window (single
            # shuffle on the partition keys). Authors should order by a
            # tie-breaking key set so the selected row SET is unique.
            if t.params.n is None or t.params.n <= 0:
                raise ValueError(f"topk {t.name!r} needs a positive 'n'")
            if not t.params.orderBy:
                raise ValueError(f"topk {t.name!r} declares no orderBy")
            keys = [F.col(c[1:]).desc() if c.startswith("-") else F.col(c)
                    for c in t.params.orderBy]
            if t.params.partitionBy:
                from pyspark.sql import Window

                spec = Window.partitionBy(*t.params.partitionBy).orderBy(*keys)
                nodes[t.name] = (
                    df.withColumn("__rn", F.row_number().over(spec))
                    .filter(F.col("__rn") <= t.params.n).drop("__rn"))
            else:
                nodes[t.name] = df.orderBy(*keys).limit(t.params.n)
        elif kind in ("intersect", "except"):
            # declarative set ops; params.all keeps duplicate
            # multiplicity (SQL INTERSECT ALL / EXCEPT ALL). Both plan
            # as one shuffle on the full row, like any distinct.
            if t.params.right not in nodes:
                raise KeyError(f"{kind} {t.name!r} references unknown right "
                               f"node {t.params.right!r}; known: {sorted(nodes)}")
            right = nodes[t.params.right]
            if kind == "intersect":
                nodes[t.name] = (df.intersectAll(right) if t.params.all
                                 else df.intersect(right))
            else:
                nodes[t.name] = (df.exceptAll(right) if t.params.all
                                 else df.subtract(right))
        else:
            raise ValueError(f"unknown transformation type {kind!r} "
                             f"(node {t.name!r})")
