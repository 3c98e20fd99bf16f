"""Shared helpers for the operator/query library.

Every operator module registers its queries in a ``QUERIES`` dict
(name -> (spark, sf_dir) -> DataFrame) and, when SQL-expressible, a
matching DuckDB oracle in ``ORACLES`` (name -> ANSI SQL string). The
driver contract (``__spark_entry__.py``) merges them.

Determinism rules (so the driver's order-insensitive value-hash
matches the oracle):
- every computed column is aliased identically in Spark and SQL;
- floating-point aggregates are ``round()``-ed to a fixed scale in BOTH
  engines, computed in double precision;
- top-k queries break ties on a unique key so the selected row SET is
  unique even when the measure ties;
- a natural log that feeds an exact sum is the fixed-point
  ``ln_micros``: ln rounded to 6 decimals, in integer micros, so the
  reduction runs over BIGINTs.

Materialization goes through ``barrier`` only; its docstring states the
policy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.session import pin_table_confs

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def barrier(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage: the package's one
    materialization call, ``localCheckpoint(eager=True)``. The only
    other cache is the executor's ok/ko split
    (``transforms.validate_fields.validate_fields_split``), which the
    executor unpersists once its sinks are written.

    Policy (the executor-loss trade). A barrier goes only on a frame
    that is (a) read 2+ times where AQE exchange reuse was MEASURED not
    to fire (each keep/revert decision is A/B-recorded in commits and
    PLANS.md; e.g. sparse_cosine_pairs and kmv were REVERTED because
    reuse already deduped), or that must be read from ONE execution
    (range-bound sampling, scoped confs), or that is a fixpoint round
    whose lineage would otherwise grow every iteration; and (b)
    bounded: a tokenized corpus slice, a signature table, a (month x
    bin) grid, never an SF-scaling fact table. Costs consciously
    accepted: building the DataFrame runs a job even if it is never
    consumed, and an executor lost during the consuming stage fails
    the job instead of recomputing; the job-level retry (driver rerun)
    is the recovery path. Local-checkpoint blocks are registered in no
    CacheManager entry: they are released when the returned frame is
    garbage-collected, so no query leaves a cache entry behind.

    There is deliberately no lineage-keeping ``persist`` mode: the
    upsert sinks (``io.sinks.upsert_sink`` and
    ``streaming.pipelines.streaming_foreachbatch_upsert``) overwrite or
    delete the directory they just read, which is only safe once the
    lineage is cut.
    """
    return df.localCheckpoint(eager=True)


#: Convergence telemetry for the iterative cluster family: each
#: min-label fixpoint records how many propagation rounds its LAST run
#: executed, keyed by operator name. The 20x scale soak emits this
#: alongside the cluster counts (r16 verdict ask: the cluster-family
#: tail rows are adjudicated as convergence cost, but without a
#: per-draw iteration count a convergence regression is
#: indistinguishable from host noise).
FIXPOINT_ITERS: dict[str, int] = {}

#: Whether the LAST run actually reached its fixpoint (zero changed
#: labels) or was truncated by ``max_rounds`` — without this a soak
#: reader could not tell "converged at 20" from "gave up at 20 with
#: non-minimal labels". Fixed-round operators (``dedup_clusters``) do
#: not write here: they have no convergence check by design.
FIXPOINT_CONVERGED: dict[str, bool] = {}


def min_label_fixpoint(sym: DataFrame, id_col: str, telemetry_key: str,
                       max_rounds: int = 20) -> DataFrame:
    """Connected components by min-label propagation over a SYMMETRIC
    edge list ``sym(src, dst)``, iterated to fixpoint: every node ends
    labeled with its component's minimum id. Returns ``(id_col,
    label)`` for every node with at least one edge.

    One co-partitioned join + agg per round, both on the node key;
    convergence is checked with a count of changed labels (near-dup
    components are dense cliques/stars, so 2-3 rounds suffice; the
    loop is bounded defensively by ``max_rounds``). Per-round labels
    go through ``barrier``.

    The number of propagation rounds actually executed (including the
    final round that observed zero changes) is recorded in
    ``FIXPOINT_ITERS[telemetry_key]``, and whether the run truly
    converged (vs. hit ``max_rounds`` with labels still changing —
    possible only on a component of diameter > max_rounds, where the
    returned labels would NOT be component minima) in
    ``FIXPOINT_CONVERGED[telemetry_key]``, so soak runs can report
    convergence cost per draw and a truncated run cannot masquerade as
    a converged one. Iteration count is deterministic for a
    deterministic edge set (pinned on a fixed path graph in
    ``tests/test_dedup_similarity.py``).
    """
    labels = barrier(sym.select(F.col("src").alias(id_col)).distinct()
                     .withColumn("label", F.col(id_col)))
    iters = 0
    changed = 0
    for _ in range(max_rounds):
        iters += 1
        nb = (sym.join(labels.withColumnsRenamed(
                  {id_col: "dst", "label": "dst_label"}), "dst")
              .groupBy("src").agg(F.min("dst_label").alias("nb_label")))
        # the changed-label flag rides the SAME projection that builds
        # the new label (r17): the convergence count is then a filter
        # over the frame the checkpoint just materialized, instead of
        # the old full new⋈old label self-join per round — one fewer
        # N-row join every iteration, identical count (chg is true
        # exactly where the old join's label-inequality filter matched;
        # least() never returns NULL here since `label` is non-null)
        new_labels = barrier(
            labels.join(nb, labels[id_col] == nb.src, "left")
            .select(labels[id_col],
                    F.least("label", "nb_label").alias("label"),
                    (F.least("label", "nb_label")
                     != F.col("label")).alias("chg")))
        changed = new_labels.filter("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    FIXPOINT_ITERS[telemetry_key] = iters
    FIXPOINT_CONVERGED[telemetry_key] = changed == 0
    return labels

QueryFn = Callable[[SparkSession, str], DataFrame]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one test table. Column pruning + predicate
    pushdown happen automatically once the caller selects/filters.

    The table-read confs are pinned first (``session.pin_table_confs``:
    it must work under the caller's SparkSession, not only ours); the
    events table's ``ts`` is then converted by ``events_ts``.
    """
    pin_table_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return events_ts(df) if name == "events" else normalize_ntz(df)


def events_ts(df: DataFrame) -> DataFrame:
    """The events table, batch or stream, with ``ts`` as a TIMESTAMP.
    Under the table-read confs its nanos column arrives as a long and
    is converted back, truncated to micros, matching how DuckDB reads
    the same file; NTZ timestamps are cast (``normalize_ntz``)."""
    if dict(df.dtypes).get("ts") == "bigint":
        # integer division, NOT F.col/1000: epoch-nanos (~1.7e18) exceed
        # double's 2^53 exact range, so a double round-trip can be off
        # by 1 us vs DuckDB's integer truncation of TIMESTAMP_NS
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_ntz(df)


def ppm(numer: str, denom: str, mult: int = 1_000_000) -> str:
    """Overflow-safe integral parts-per-million share expression:
    ``floor(numer * mult / denom)`` computed through DECIMAL(38,0) so a
    data-sized numerator (cents/rows at 100 TB) times 10^6 cannot
    overflow BIGINT — the 10x scale soak caught exactly that in the
    plain ``numer * 1000000 DIV denom`` form (customer_pareto_abc).
    Bit-identical to the plain form wherever the plain form doesn't
    overflow, so DuckDB oracles keep the simple `// ` expression."""
    return (f"CAST(CAST({numer} AS DECIMAL(38,0)) * {mult} "
            f"DIV ({denom}) AS BIGINT)")


def ln_micros(arg: str) -> str:
    """Fixed-point natural log: ``ln(arg)`` rounded to 6 decimals, in
    integer micros (round half up). Spark SQL and DuckDB parse this
    text identically, so ONE string serves the engine (``F.expr``) and
    the oracle. ``arg`` is SQL text; callers keep ln's argument > 0."""
    return f"CAST(floor(round(ln({arg}), 6) * 1000000.0 + 0.5) AS BIGINT)"


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (belt-and-braces for
    sessions where the inference conf above was captured before this
    module could set it). Wall-clock values are unchanged under UTC."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    from pyspark.sql import functions as F

    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
