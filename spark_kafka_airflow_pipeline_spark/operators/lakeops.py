"""Physical-design / lakehouse-maintenance planners and audits [EXT].

The reference writes plain file sinks (``PipelineProcessor.scala:
122-140``); at 100 TB the table BEHIND those sinks needs maintenance
planning: small-file compaction bins, multi-dimensional (Z-order)
clustering audits, bloom-filter sizing for the join-pruning path, and
hashing-trick collision audits for the feature pipeline. Each operator
here is the PLANNER/AUDIT — a bounded, fully-oracled table a
maintenance job or a human reads — never the rewrite itself.

Scale notes (100 TB):
- compaction: one fact-sized aggregate to the calendar-bounded
  (month x priority) partition frame; the running sum and binning run
  on that bounded frame.
- zorder: bucket ids are PURE ARITHMETIC on each row (no global sort,
  no window) — Morton interleave via DIV/%/multiply, then a per-file
  min/max aggregate.
- bloom planner: one distinct-count aggregate + a literal
  bits-per-key fan-out.
- feature hashing: one vocab-sized aggregate; buckets via the repo's
  md5-hex-int idiom (portable to DuckDB's strpos hex decode).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.operators.base import (
    QueryFn,
    ppm,
    table,
)

# ---------------------------------------------------------------------------
# 1. Small-file compaction bin plan
# ---------------------------------------------------------------------------

COMPACT_OUT_FILES = 8
EST_ROW_BYTES = 128  # planning estimate; the plan shape is what matters


def compaction_bin_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: treat each (order-month,
    priority) partition as one input file (rows x an estimated row
    width), lay the files out in partition order, and cut the sequence
    into ~COMPACT_OUT_FILES equal-byte output bins — the plan a
    compaction job executes to fix the many-small-files problem
    without destroying partition locality (adjacent months stay
    adjacent).

    All-integer: target = ceil(total/8); bin = exclusive-prefix-bytes
    DIV target, so bins are contiguous in the (month, priority) order
    and deterministic.

    Scale: one orders-sized aggregate to the calendar-bounded
    (month x priority) frame (~hundreds of rows at any SF); the
    running sum windows over that bounded frame only."""
    o = table(spark, sf_dir, "orders")
    files = (o.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                       .alias("month"),
                       F.col("o_orderpriority").alias("priority"))
             .agg(F.count(F.lit(1)).alias("n_rows"))
             .withColumn("est_bytes",
                         F.expr(f"n_rows * {EST_ROW_BYTES}")))
    tot = files.agg(F.sum("est_bytes").alias("total"))
    w = Window.orderBy("month", "priority").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    planned = (files.crossJoin(F.broadcast(tot))
               .withColumn("cum", F.sum("est_bytes").over(w))
               .withColumn("target", F.expr(
                   f"(total + {COMPACT_OUT_FILES} - 1) "
                   f"DIV {COMPACT_OUT_FILES}"))
               .withColumn("bin", F.expr(
                   "CAST((cum - est_bytes) DIV target AS INT)")))
    return (planned.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_input_files"),
                 F.sum("n_rows").cast("bigint").alias("bin_rows"),
                 F.sum("est_bytes").cast("bigint").alias("bin_bytes"),
                 F.min("month").alias("min_month"),
                 F.max("month").alias("max_month")))


COMPACT_SQL = f"""
WITH files AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
         o_orderpriority AS priority, COUNT(*) AS n_rows,
         COUNT(*) * {EST_ROW_BYTES} AS est_bytes
  FROM orders GROUP BY 1, 2
), tot AS (SELECT SUM(est_bytes) AS total FROM files),
planned AS (
  SELECT *,
         SUM(est_bytes) OVER (ORDER BY month, priority
                              ROWS UNBOUNDED PRECEDING) AS cum,
         (total + {COMPACT_OUT_FILES} - 1) // {COMPACT_OUT_FILES} AS target
  FROM files CROSS JOIN tot
)
SELECT CAST((cum - est_bytes) // target AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_input_files,
       CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
       CAST(SUM(est_bytes) AS BIGINT) AS bin_bytes,
       MIN(month) AS min_month, MAX(month) AS max_month
FROM planned GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 2. Z-order vs linear clustering audit
# ---------------------------------------------------------------------------

ZBITS = 10            # 10 bits per dimension -> 20-bit Morton code
ZFILES = 16


def _morton_expr(x: str, y: str, div: str = "DIV") -> str:
    """20-bit Morton interleave of two 10-bit ints via integer
    division/%/multiply only — identical arithmetic in Spark SQL
    (``div='DIV'``) and DuckDB (``div='//'``); no reliance on
    shift-operator parsing differences."""
    terms = []
    for i in range(ZBITS):
        terms.append(f"(({x}) {div} {1 << i} % 2) * {1 << (2 * i)}")
        terms.append(f"(({y}) {div} {1 << i} % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def zorder_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout audit: would Z-ordering orders on (custkey, order
    date) beat a linear custkey sort for two-dimensional pruning?
    (``scaleops.zorder_layout`` WRITES the z-tile manifest; this op
    answers the prior question — is the z layout worth it versus the
    single-column sort — by measuring both layouts' skip-index
    widths.) Both
    layouts assign each row to one of ZFILES files by PURE ARITHMETIC
    (Morton-code range split vs custkey range split over the same
    folded 10-bit domains), then the per-file min/max span of EACH
    dimension is summed — the skip-index width a reader must scan. A
    good multi-dim layout shrinks sum_span_y at a modest sum_span_x
    cost; the linear layout leaves span_y at full width in every file.

    Determinism: folding (key % 1024, days-since-epoch % 1024) and the
    Morton interleave are integer-only, so file ids — and every span —
    are hash-exact.

    Scale: zero windows and zero joins — file ids are computed per-row
    (one scan), then one (scheme, file) min/max aggregate. This is the
    audit's whole point: the layout DECISION needs no global sort."""
    o = table(spark, sf_dir, "orders").select(
        F.expr("o_custkey % 1024").alias("x"),
        F.expr("datediff(o_orderdate, DATE '1992-01-01') % 1024")
        .alias("y"))
    m = _morton_expr("x", "y")
    z = o.select(F.lit("zorder").alias("scheme"),
                 F.expr(f"CAST({m} * {ZFILES} DIV {1 << (2 * ZBITS)} "
                        "AS INT)").alias("file_id"), "x", "y")
    lin = o.select(F.lit("linear").alias("scheme"),
                   F.expr(f"CAST(x * {ZFILES} DIV 1024 AS INT)")
                   .alias("file_id"), "x", "y")
    per_file = (z.unionByName(lin)
                .groupBy("scheme", "file_id")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     (F.max("x") - F.min("x")).alias("span_x"),
                     (F.max("y") - F.min("y")).alias("span_y")))
    return (per_file.groupBy("scheme")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_files"),
                 F.sum("n_rows").cast("bigint").alias("n_rows"),
                 F.sum("span_x").cast("bigint").alias("sum_span_x"),
                 F.sum("span_y").cast("bigint").alias("sum_span_y"),
                 F.max("span_x").cast("bigint").alias("max_span_x"),
                 F.max("span_y").cast("bigint").alias("max_span_y")))


ZORDER_SQL = f"""
WITH base AS (
  SELECT o_custkey % 1024 AS x,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
           % 1024 AS y
  FROM orders
), tagged AS (
  SELECT 'zorder' AS scheme,
         CAST({_morton_expr('x', 'y', div='//')} * {ZFILES}
              // {1 << (2 * ZBITS)} AS INT) AS file_id, x, y
  FROM base
  UNION ALL
  SELECT 'linear' AS scheme,
         CAST(x * {ZFILES} // 1024 AS INT) AS file_id, x, y
  FROM base
), per_file AS (
  SELECT scheme, file_id, COUNT(*) AS n_rows,
         MAX(x) - MIN(x) AS span_x, MAX(y) - MIN(y) AS span_y
  FROM tagged GROUP BY scheme, file_id
)
SELECT scheme, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(span_x) AS BIGINT) AS sum_span_x,
       CAST(SUM(span_y) AS BIGINT) AS sum_span_y,
       CAST(MAX(span_x) AS BIGINT) AS max_span_x,
       CAST(MAX(span_y) AS BIGINT) AS max_span_y
FROM per_file GROUP BY scheme
"""

# DuckDB's // on plain BIGINT is exact integer floor division — the
# DECIMAL degradation gotcha does not apply here (all operands BIGINT).


# ---------------------------------------------------------------------------
# 3. Bloom-filter sizing planner
# ---------------------------------------------------------------------------

BLOOM_BPK = (8, 12, 16, 20)


def bloom_filter_fpr_planner(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Bloom-filter sizing table for the orderkey join-pruning path:
    for candidate bits-per-key budgets, the optimal hash count
    k = round(bpk*ln2), the resulting false-positive rate
    (1 - e^(-k/bpk))^k, and the expected number of false-positive probe
    rows — the capacity-vs-IO tradeoff a runtime-filter planner reads
    before injecting a bloom into the scan (Spark's own
    spark.sql.optimizer.runtime.bloomFilter sizing question).

    Portability: fpr is exp(k * ln(1 - e^(-k/bpk))) with BOTH
    transcendental steps rounded 6dp before reuse (the repo's ln/exp
    discipline); expected fp rows = probe_rows * fp_ppm DIV 1e6 — all
    integer once the rate is pinned.

    Scale: one approx-free distinct count on the build side + one
    count on the probe side (both mergeable), then a 4-row literal
    fan-out. At 100 TB the exact countDistinct would swap to HLL —
    same topology, documented."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    build = li.agg(F.countDistinct("l_orderkey").alias("n_keys"))
    probe = o.agg(F.count(F.lit(1)).alias("probe_rows"))
    bpk = spark.range(1).select(
        F.explode(F.array(*[F.lit(b) for b in BLOOM_BPK])).alias("bpk"))
    fpr = ("round(exp(k_hashes * round(ln(1.0 - "
           "round(exp(-CAST(k_hashes AS DOUBLE) / bpk), 6)), 6)), 6)")
    return (bpk.crossJoin(F.broadcast(build))
            .crossJoin(F.broadcast(probe))
            .withColumn("k_hashes", F.expr(
                "CAST(floor(bpk * 0.693147 + 0.5) AS INT)"))
            .withColumn("fpr_r6", F.expr(fpr))
            .withColumn("fp_ppm", F.expr(
                "CAST(floor(fpr_r6 * 1000000.0 + 0.5) AS BIGINT)"))
            .select(F.col("bpk").cast("int").alias("bits_per_key"),
                    F.col("n_keys").cast("bigint").alias("n_keys"),
                    F.expr("CAST(n_keys * bpk AS BIGINT)").alias("m_bits"),
                    "k_hashes", "fpr_r6",
                    F.expr("CAST(CAST(probe_rows AS DECIMAL(38,0)) * fp_ppm"
                           " DIV 1000000 AS BIGINT)")
                    .alias("expected_fp_rows")))


BLOOM_SQL = f"""
WITH build AS (SELECT COUNT(DISTINCT l_orderkey) AS n_keys FROM lineitem),
probe AS (SELECT COUNT(*) AS probe_rows FROM orders),
bpks AS (SELECT UNNEST(ARRAY{list(BLOOM_BPK)}) AS bpk),
sized AS (
  SELECT bpk, n_keys, probe_rows,
         CAST(floor(bpk * 0.693147 + 0.5) AS INT) AS k_hashes
  FROM bpks CROSS JOIN build CROSS JOIN probe
), rated AS (
  SELECT *,
         round(exp(k_hashes * round(ln(1.0 -
               round(exp(-CAST(k_hashes AS DOUBLE) / bpk), 6)), 6)), 6)
           AS fpr_r6
  FROM sized
)
SELECT CAST(bpk AS INT) AS bits_per_key,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST(n_keys * bpk AS BIGINT) AS m_bits,
       k_hashes, fpr_r6,
       CAST(CAST(probe_rows AS HUGEINT)
            * CAST(floor(fpr_r6 * 1000000.0 + 0.5) AS BIGINT)
            // 1000000 AS BIGINT) AS expected_fp_rows
FROM rated
"""


# ---------------------------------------------------------------------------
# 4. Feature-hashing (hashing trick) collision audit
# ---------------------------------------------------------------------------

HASH_BUCKET_SIZES = (256, 1024, 4096)


def feature_hashing_collision_audit(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Hashing-trick sizing audit: hash the corpus vocabulary into
    2^k feature buckets (k = 8/10/12) and report, per size, how many
    terms collide and — the part that matters for model quality — what
    share of total TOKEN MASS sits in collided buckets (a collision on
    two rare terms is noise; on two frequent terms it is signal loss).

    Buckets come from the repo's portable md5-hex-int idiom (first 6
    hex chars as an integer, mod the bucket count) — deterministic and
    bit-identical in DuckDB's strpos hex decode.

    Scale: one (term) aggregate over the token stream, a literal
    3-way size fan-out, then two bounded aggregates keyed on
    (n_buckets, bucket). Vocab-sized throughout — never doc x doc."""
    from spark_kafka_airflow_pipeline_spark.operators.corpusops import (
        _tokens,
    )

    vocab = (_tokens(table(spark, sf_dir, "documents"))
             .select(F.explode("toks").alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    # literal-array explode, not a crossJoin — same 3-way fan-out with
    # zero join nodes in the plan
    hashed = (vocab
              .select("w", "cnt",
                      F.explode(F.array(*[F.lit(s) for s in
                                          HASH_BUCKET_SIZES]))
                      .alias("n_buckets"))
              .withColumn("bucket", F.expr(
                  "CAST(conv(substring(md5(w), 1, 6), 16, 10) AS BIGINT) "
                  "% n_buckets")))
    per_bucket = (hashed.groupBy("n_buckets", "bucket")
                  .agg(F.count(F.lit(1)).alias("n_terms_b"),
                       F.sum("cnt").alias("mass_b")))
    return (per_bucket.groupBy("n_buckets")
            .agg(F.sum("n_terms_b").cast("bigint").alias("n_terms"),
                 F.count(F.lit(1)).cast("bigint").alias("buckets_used"),
                 F.sum(F.expr("CASE WHEN n_terms_b > 1 THEN n_terms_b "
                              "ELSE 0 END")).cast("bigint")
                 .alias("collided_terms"),
                 F.sum(F.expr("CASE WHEN n_terms_b > 1 THEN mass_b "
                              "ELSE 0 END")).alias("collided_mass"),
                 F.sum("mass_b").alias("total_mass"),
                 F.max("n_terms_b").cast("bigint")
                 .alias("max_bucket_terms"))
            .select(F.col("n_buckets").cast("int").alias("n_buckets"),
                    "n_terms", "buckets_used", "collided_terms",
                    "max_bucket_terms",
                    F.expr(ppm("collided_mass", "total_mass"))
                    .alias("collided_mass_ppm")))


HASHING_SQL = rf"""
WITH vocab AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY w
), hashed AS (
  SELECT n_buckets, ('0x' || substr(md5(w), 1, 6))::BIGINT % n_buckets
           AS bucket, cnt
  FROM vocab
  CROSS JOIN (SELECT UNNEST(ARRAY{list(HASH_BUCKET_SIZES)}) AS n_buckets)
), per_bucket AS (
  SELECT n_buckets, bucket, COUNT(*) AS n_terms_b, SUM(cnt) AS mass_b
  FROM hashed GROUP BY 1, 2
)
SELECT CAST(n_buckets AS INT) AS n_buckets,
       CAST(SUM(n_terms_b) AS BIGINT) AS n_terms,
       CAST(COUNT(*) AS BIGINT) AS buckets_used,
       CAST(SUM(CASE WHEN n_terms_b > 1 THEN n_terms_b ELSE 0 END)
            AS BIGINT) AS collided_terms,
       CAST(MAX(n_terms_b) AS BIGINT) AS max_bucket_terms,
       CAST(SUM(CASE WHEN n_terms_b > 1 THEN mass_b ELSE 0 END) * 1000000
            // SUM(mass_b) AS BIGINT) AS collided_mass_ppm
FROM per_bucket GROUP BY n_buckets
"""


RETENTION_TIERS = ((3, "1_hot"), (12, "2_warm"), (24, "3_cold"))


def partition_retention_plan(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Partition lifecycle / VACUUM planner: age every order-month
    partition against the corpus head (max order month — deterministic,
    not wall clock) and assign the storage tier a lifecycle policy
    prescribes — hot (<= 3 months), warm (<= 12), cold (<= 24), expire
    (older) — with per-tier partition counts, row counts, and
    reclaimable bytes for the expire tier. The plan a retention job
    executes and a cost review reads.

    All-integer: age in whole months from the month index arithmetic
    (12*year + month deltas); tiers are fixed literals.

    Scale: one orders-sized aggregate to the calendar-bounded month
    frame; the head is a 1-row broadcast."""
    o = table(spark, sf_dir, "orders")
    parts = (o.groupBy(F.trunc("o_orderdate", "month").alias("m"))
             .agg(F.count(F.lit(1)).alias("n_rows")))
    head = parts.agg(F.max("m").alias("head_m"))
    tiers = " ".join(
        f"WHEN age_months <= {lim} THEN '{name}'"
        for lim, name in RETENTION_TIERS)
    aged = (parts.crossJoin(F.broadcast(head))
            .withColumn("age_months", F.expr(
                "(year(head_m) * 12 + month(head_m)) "
                "- (year(m) * 12 + month(m))"))
            .withColumn("tier", F.expr(
                f"CASE {tiers} ELSE '4_expire' END")))
    return (aged.groupBy("tier")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
                 F.sum("n_rows").cast("bigint").alias("n_rows"),
                 F.expr(f"CAST(SUM(n_rows) * {EST_ROW_BYTES} AS BIGINT)")
                 .alias("est_bytes"),
                 F.min("age_months").cast("int").alias("min_age_months"),
                 F.max("age_months").cast("int").alias("max_age_months")))


_AGE_SQL = ("(year(head_m) * 12 + month(head_m)) "
            "- (year(m) * 12 + month(m))")
_TIER_CASE_SQL = ("CASE " + " ".join(
    f"WHEN {_AGE_SQL} <= {lim} THEN '{name}'"
    for lim, name in RETENTION_TIERS) + " ELSE '4_expire' END")

RETENTION_SQL = f"""
WITH parts AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         COUNT(*) AS n_rows
  FROM orders GROUP BY 1
), head AS (SELECT MAX(m) AS head_m FROM parts),
aged AS (
  SELECT n_rows,
         {_AGE_SQL} AS age_months,
         {_TIER_CASE_SQL} AS tier
  FROM parts CROSS JOIN head
)
SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_partitions,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(n_rows) * {EST_ROW_BYTES} AS BIGINT) AS est_bytes,
       CAST(MIN(age_months) AS INT) AS min_age_months,
       CAST(MAX(age_months) AS INT) AS max_age_months
FROM aged GROUP BY tier
"""


# ---------------------------------------------------------------------------
# 6. Column-level data-quality profile (the deequ-style profiler)
# ---------------------------------------------------------------------------

#: (column, normalized value expression) — numeric money is profiled
#: as exact cents and the timestamp as DATE so min/max stringification
#: is bit-identical across engines (double/timestamp repr is not).
PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_totalprice_cents",
     "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"),
    ("o_orderdate", "CAST(o_orderdate AS DATE)"),
    ("o_orderpriority", "o_orderpriority"),
)


def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the orders table — the
    deequ/constraint-suggestion input every ingestion pipeline
    computes before anyone trusts a new feed: per column, row count,
    null count + share, exact distinct count, and min/max (stringified
    AFTER computing on the normalized native value, so ordering is
    value order, not lexicographic).

    Shape (r17 rewrite, optimization guide §2.3/§7.2): one branch per
    column — ``groupBy(value)`` hash aggregate (map-side combined, the
    exchange carries only per-partition distinct values), then a
    second aggregate over the distinct groups derives every metric
    exactly: n_rows = sum of group counts, nulls = the null group's
    count, distinct = count of non-null groups, min/max over group
    keys. The previous one-pass multi-COUNT(DISTINCT) form lowered to
    a 6x Expand whose STRING min/max forced the whole expanded stream
    through SortAggregates (measured 4.3 s at sf0.1 vs 0.88 s for this
    form); at 100 TB the Expand also shuffles 6x the table against
    this form's per-partition distinct sets. Swap in
    approx_count_distinct per column when +-2% is acceptable and the
    oracle is dropped.

    Hash-exact: counts are integers; min/max go through BIGINT / DATE
    / VARCHAR normalization (PROFILE_COLS), never raw double repr."""
    o = table(spark, sf_dir, "orders")
    outs = []
    for name, e in PROFILE_COLS:
        g = (o.select(F.expr(e).alias("v"))
             .groupBy("v").agg(F.count(F.lit(1)).alias("cnt")))
        outs.append(
            g.agg(
                F.sum("cnt").alias("n_rows"),
                F.coalesce(F.sum(F.when(F.col("v").isNull(), F.col("cnt"))),
                           F.lit(0)).alias("n_null"),
                F.count("v").alias("n_distinct"),
                F.min("v").cast("string").alias("min_str"),
                F.max("v").cast("string").alias("max_str"),
            ).select(F.lit(name).alias("col_name"),
                     F.col("n_rows").cast("bigint").alias("n_rows"),
                     F.col("n_null").cast("bigint").alias("n_null"),
                     F.expr(ppm("n_null", "n_rows")).alias("null_ppm"),
                     F.col("n_distinct").cast("bigint").alias("n_distinct"),
                     "min_str", "max_str"))
    return reduce(DataFrame.unionByName, outs)


_PROFILE_SELECTS = "\nUNION ALL\n".join(f"""
SELECT '{name}' AS col_name, COUNT(*) AS n_rows,
       SUM(CASE WHEN ({e}) IS NULL THEN 1 ELSE 0 END) AS n_null,
       COUNT(DISTINCT {e}) AS n_distinct,
       CAST(MIN({e}) AS VARCHAR) AS min_str,
       CAST(MAX({e}) AS VARCHAR) AS max_str
FROM orders""" for name, e in PROFILE_COLS)

PROFILE_SQL = f"""
WITH per_col AS ({_PROFILE_SELECTS})
SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_null AS BIGINT) AS n_null,
       CAST(n_null * 1000000 // n_rows AS BIGINT) AS null_ppm,
       CAST(n_distinct AS BIGINT) AS n_distinct, min_str, max_str
FROM per_col
"""


# ---------------------------------------------------------------------------
# 7. Functional-dependency audit (constraint discovery)
# ---------------------------------------------------------------------------

#: candidate dependencies to audit: (table, determinant, dependent).
#: A fixed literal list (like benford's digit table) so the oracle
#: restates it; production would generate candidates from the schema.
FD_CANDIDATES: tuple[tuple[str, str, str], ...] = (
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_suppkey"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("part", "p_brand", "p_type"),
)


def functional_dependency_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Functional-dependency discovery audit — the constraint-mining
    pass a data catalog runs to learn (or verify) key/attribute
    relationships: for each candidate X -> Y, does every X value map
    to exactly one Y value? Reports the determinant cardinality, how
    many X values VIOLATE (map to >1 distinct Y), the worst fan-out,
    and the holds flag. X -> Y holds iff n_violating_keys = 0 — the
    audit that catches a denormalization bug (an attribute that
    should be functionally determined starting to drift) before
    downstream joins silently duplicate rows.

    Scale: per candidate one hash aggregate keyed on the determinant
    (mergeable COUNT(DISTINCT dependent) per key, then a 1-row
    roll-up) — linear scans, bounded 5-row output, no windows."""
    out = None
    for tbl, det, dep in FD_CANDIDATES:
        per_key = (table(spark, sf_dir, tbl)
                   .groupBy(det)
                   .agg(F.countDistinct(dep).alias("k")))
        row = (per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.expr("CASE WHEN k > 1 THEN 1 ELSE 0 END"))
            .alias("n_violating_keys"),
            F.max("k").alias("max_dependents_per_key"))
            .select(F.lit(tbl).alias("table_name"),
                    F.lit(det).alias("determinant"),
                    F.lit(dep).alias("dependent"),
                    F.col("n_keys").cast("bigint").alias("n_keys"),
                    F.col("n_violating_keys").cast("bigint")
                    .alias("n_violating_keys"),
                    F.col("max_dependents_per_key").cast("bigint")
                    .alias("max_dependents_per_key"),
                    F.expr("CAST(n_violating_keys = 0 AS INT)")
                    .alias("holds")))
        out = row if out is None else out.unionByName(row)
    return out


_FD_SELECTS = "\nUNION ALL\n".join(f"""
SELECT '{tbl}' AS table_name, '{det}' AS determinant,
       '{dep}' AS dependent,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_keys,
       CAST(MAX(k) AS BIGINT) AS max_dependents_per_key,
       CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) = 0 AS INT) AS holds
FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS k FROM {tbl} GROUP BY {det})
""" for tbl, det, dep in FD_CANDIDATES)

FD_SQL = f"WITH per AS ({_FD_SELECTS})\nSELECT * FROM per"


QUERIES: dict[str, QueryFn] = {
    "compaction_bin_plan": compaction_bin_plan,
    "partition_retention_plan": partition_retention_plan,
    "zorder_clustering_audit": zorder_clustering_audit,
    "bloom_filter_fpr_planner": bloom_filter_fpr_planner,
    "feature_hashing_collision_audit": feature_hashing_collision_audit,
    "orders_column_profile": orders_column_profile,
    "functional_dependency_audit": functional_dependency_audit,
}

ORACLES: dict[str, str] = {
    "compaction_bin_plan": COMPACT_SQL,
    "partition_retention_plan": RETENTION_SQL,
    "zorder_clustering_audit": ZORDER_SQL,
    "bloom_filter_fpr_planner": BLOOM_SQL,
    "feature_hashing_collision_audit": HASHING_SQL,
    "orders_column_profile": PROFILE_SQL,
    "functional_dependency_audit": FD_SQL,
}
